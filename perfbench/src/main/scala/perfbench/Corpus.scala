package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Pipeline, Similarity, TextOps}

/** corpus_pipeline: the batch LLM-data pipeline over the run's document +
  * embedding sample, run over and over. One operation is one stage: a
  * public call whose output is written to the pipeline's scratch parquet
  * directory, where the next stage reads it; the last stage writes the
  * survivors. Each pipeline has its own directory, so every stage the
  * window ran can be checked. */
final class Corpus(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  import Corpus.Stages

  private def sample(dir: String) =
    (spark.read.parquet(s"$dir/docs.parquet"), spark.read.parquet(s"$dir/embeddings.parquet"))
  private val run = sample(s"${ctx.in}/corpus")
  private val nDocs = ctx.inputs("corpus").asInstanceOf[Map[String, Any]]("docs")
    .asInstanceOf[Long]
  private val out = s"${ctx.work}/corpus"
  /** The pipeline in progress and its next stage. */
  private var pipeline = 0
  private var stage = 0

  private def dir(p: Int) = f"$out/pipeline-$p%03d"

  private def stageDf(name: String, dir: String, input: (DataFrame, DataFrame)): DataFrame = {
    val (docs, embeddings) = input
    def at(st: String) = spark.read.parquet(s"$dir/$st")
    name match {
      case "clean" => docs.withColumn("text", Pipeline.redactPii(TextOps.cleanText(col("text"))))
      case "quality" => TextOps.withLanguageId(TextOps.withQualityFeatures(at("clean"), "text"), "text")
        .filter(col("n_tokens") >= 10)
      case "unigram" => TextOps.unigramStats(at("quality"), "doc_id", "text")
      case "bpe" =>
        val quality = at("quality")
        TextOps.bpeEncode(quality, "doc_id", "text", Corpus.merges,
          TextOps.bpeVocab(quality, "text", Corpus.merges))
      case "minhash" => Dedup.minhashPairs(at("quality"), "doc_id", "text")
      case "cc" => Dedup.clusters(at("minhash"))
      case "keepbest" =>
        val scored = at("quality").join(at("unigram").select(col("doc_id"), col("mean_p")), Seq("doc_id"))
        Dedup.keepBestPerCluster(scored, "doc_id", "mean_p", at("minhash"))
      case "semdedup" => Similarity.semDedup(
        embeddings.join(at("keepbest").select(col("doc_id").as("vec_id")), Seq("vec_id")), 0.95)
    }
  }

  private def runStage(name: String, dir: String, input: (DataFrame, DataFrame) = run): Unit =
    tracer.span(s"llm.$name") {
      stageDf(name, dir, input).write.mode("overwrite").parquet(s"$dir/$name")
    }

  /** The whole pipeline once on the small warm-up sample: compiles every
    * stage's generated code before the window opens. */
  override def warmup(): Unit = {
    val warm = sample(s"${ctx.in}/corpus/warmup")
    Stages.foreach(runStage(_, s"${ctx.work}/corpus_warmup", warm))
  }

  override def step(): Boolean = {
    val name = Stages(stage)
    ctx.op(name, "corpus")(runStage(name, dir(pipeline)))
    stage += 1
    if (stage == Stages.size) {
      pipeline += 1
      stage = 0
    }
    true
  }

  override def covered: Boolean = pipeline > 0

  /** Every pipeline directory the window wrote to; the last one may hold
    * only its first stages. */
  override def finish(): Map[String, Any] =
    Map("out_dirs" -> (0 until (if (stage == 0) pipeline else pipeline + 1)).map(dir),
        "input_docs" -> nDocs,
        "pairs" -> spark.read.parquet(s"${dir(0)}/minhash").count())
}

object Corpus {
  val Stages: IndexedSeq[String] =
    IndexedSeq("clean", "quality", "unigram", "bpe", "minhash", "cc", "keepbest", "semdedup")

  /** A fixed merge table over the corpus vocabulary (the encode stage is
    * measured, not tokenizer training). */
  val merges: Seq[(String, String)] = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
    ("v", "a"), ("va", "l"), ("a", "</w>"), ("r", "o"), ("ro", "w"), ("row", "</w>"))
}
