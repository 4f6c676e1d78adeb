package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** interactive_mix: read-only requests drawn from a fixed mix of named
  * queries (relational, temporal, dialect) plus two remote scans over a
  * RemoteTableServer the set-up starts. Each request builds its DataFrame,
  * forces optimization and physical planning, then collects. */
final class Interactive(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val classes: Map[String, String] =
    ctx.inputs("request_classes").asInstanceOf[Map[String, Seq[String]]]
      .toSeq.flatMap { case (cls, names) => names.map(_ -> cls) }.toMap
  private val sequence = ctx.inputs("requests").asInstanceOf[Seq[String]].toIndexedSeq
  private var next = 0
  /** The first result of each distinct request, checked after the run. */
  private val firstResult = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

  private var siteA = ""
  private var remoteSiteB = ""
  private var remoteEndpoint = ""

  /** Oracle of the named query each remote request reproduces. */
  private val remoteOracle = Map("remote_federated" -> "q119_remote_folio",
                                 "remote_agg" -> "q121_remote_agg")

  override def setup(): Unit = {
    val base = s"${ctx.tables}/remote"
    siteA = s"$base/site_a"
    val srv = tracer.span("sources.server_start") {
      graft.sources.RemoteTableServer.start(spark,
        Map("site_b" -> s"$base/site_b", "cust" -> s"$base/cust"))
    }
    remoteSiteB = s"remote://127.0.0.1:${srv.port}/site_b"
    remoteEndpoint = s"127.0.0.1:${srv.port}"
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** The remote requests: q119's federated folio and q121's pushed-down
    * remote aggregate, over the servers started in set-up. */
  private def remote(name: String): DataFrame = name match {
    case "remote_federated" =>
      graft.io.Folio.federatedRead(spark, Seq(siteA, remoteSiteB))
        .filter(col("c_acctbal") > 0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(dec(col("c_acctbal"))).cast("double").as("bal"))
        .orderBy(col("c_mktsegment"))
    case "remote_agg" =>
      spark.read.format("graft.sources.RemoteFolioSource")
        .option("endpoint", remoteEndpoint).option("table", "cust").load()
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), count(col("c_name")).as("n_name"),
             sum(col("c_custkey")).as("sum_key"), min(col("c_acctbal")).as("min_bal"),
             max(col("c_acctbal")).as("max_bal"), min(col("c_name")).as("first_name"))
        .orderBy(col("c_mktsegment"))
  }

  private def request(name: String): Unit = {
    val cls = classes(name)
    ctx.op(name, cls) {
      val rows = if (cls == "remote") {
        val df = tracer.span("sources.remote_plan") {
          val d = remote(name)
          d.queryExecution.optimizedPlan
          d.queryExecution.executedPlan
          d
        }
        tracer.span("sources.remote_exec")(df -> df.collect())
      } else {
        val fn = graft.SparkEntry.queries(name)
        val build = if (cls == "dialect") "sql.run" else "queries.build"
        val df = tracer.span(build)(fn(spark, ctx.tables))
        tracer.span("plans.optimize")(df.queryExecution.optimizedPlan)
        tracer.span("plans.physical")(df.queryExecution.executedPlan)
        tracer.span("exec.collect")(df -> df.collect())
      }
      if (ctx.inWindow && !firstResult.contains(name))
        firstResult(name) = (rows._2, rows._1.schema)
    }
  }

  /** Two rounds of every distinct request: the first compiles each
    * query's generated code and loads its classes, the second runs while
    * the JIT still compiles the hot paths (a request's first call after one
    * round reads 30-80% slower than its later ones). */
  override def warmup(): Unit =
    for (_ <- 1 to 2; n <- sequence.distinct) { tracer.request += 1; request(n) }

  override def step(): Boolean = next < sequence.size && {
    tracer.request += 1
    request(sequence(next))
    next += 1
    true
  }

  /** Each round of the sequence is a permutation of every request. */
  override def covered: Boolean = next >= classes.size

  override def finish(): Map[String, Any] = {
    val dir = s"${ctx.work}/results"
    firstResult.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    }
    val oracle = firstResult.keys.map { n =>
      n -> graft.SparkEntry.oracleSql.get(remoteOracle.getOrElse(n, n)).orNull }.toMap
    Map("results_dir" -> dir, "oracle_sql" -> oracle)
  }
}
