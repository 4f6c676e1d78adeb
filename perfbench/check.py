"""Output checks, run after the timed window, in DuckDB.

Each check returns a list of (op_selector, message) failures; the caller
turns them into failed operations. `op_selector` is a request name, or
"*" when the failure taints every operation of the run.
"""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(con, sql):
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return cols, rel.fetchall()


def _canon(cols, rows):
    """Columns sorted by name, rows sorted: the oracle comparison rule."""
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in perm) for r in rows)


def interactive(tables_dir, counters):
    """Each distinct request's first result against its DuckDB oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    fails = []
    for name, sql in sorted(counters["oracle_sql"].items()):
        if not sql:
            fails.append((name, "no oracle"))
            continue
        got = glob.glob(f"{counters['results_dir']}/{name}/*.parquet")
        if not got:
            fails.append((name, "no result written"))
            continue
        try:
            dcols, drows = _canon(*_rows(con, sql))
        except duckdb.Error as e:
            fails.append((name, f"oracle error: {e}"))
            continue
        scols, srows = _canon(*_rows(con, f"SELECT * FROM '{counters['results_dir']}/{name}/*.parquet'"))
        if scols != dcols:
            fails.append((name, f"columns {scols} != {dcols}"))
        elif srows != drows:
            bad = next(((a, b) for a, b in zip(srows, drows) if a != b), None)
            fails.append((name, f"{len(srows)} vs {len(drows)} rows; first diff {bad}"))
    return fails


# q29's oracle shingling (exact 3-gram Jaccard over whitespace tokens)
EXACT_PAIRS = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
  FROM quality),
shing AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(range(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
  FROM toks),
ex AS (SELECT doc_id, unnest(s) AS sh FROM shing),
sizes AS (SELECT doc_id, count(*) AS c FROM ex GROUP BY 1),
inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
          FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT ia, ib, i::DOUBLE / (sa.c + sb.c - i)::DOUBLE AS j
FROM inter JOIN sizes sa ON sa.doc_id = ia JOIN sizes sb ON sb.doc_id = ib
WHERE i::DOUBLE / (sa.c + sb.c - i)::DOUBLE >= 0.7
"""


def corpus(in_dir, inputs, counters):
    """Invariants of the stage outputs of every pipeline the window ran."""
    return [f for out in counters["out_dirs"] for f in _pipeline(in_dir, inputs, out)]


def _pipeline(in_dir, inputs, out):
    """The checks whose stages the pipeline has run: stages run in order,
    so the window's last pipeline may hold only its first ones."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW input AS SELECT * FROM '{in_dir}/corpus/docs.parquet'")
    have = {"input"}
    for st in ["clean", "quality", "unigram", "minhash", "keepbest", "semdedup"]:
        if glob.glob(f"{out}/{st}/*.parquet"):
            con.execute(f"CREATE VIEW {st} AS SELECT * FROM '{out}/{st}/*.parquet'")
            have.add(st)
    ids = {}
    for view, col in [("input", "doc_id"), ("clean", "doc_id"), ("quality", "doc_id"),
                      ("keepbest", "doc_id"), ("semdedup", "vec_id")]:
        if view in have:
            ids[view] = [r[0] for r in con.execute(f"SELECT {col} FROM {view}").fetchall()]
    fails = []
    for view, got in ids.items():
        if len(set(got)) != len(got):
            fails.append(("*", f"{view}: duplicate ids"))
    s = {k: set(v) for k, v in ids.items()}
    # ids only shrink stage by stage: each input document survives or is
    # dropped by exactly one stage
    chain = [v for v in ["input", "clean", "quality", "keepbest", "semdedup"] if v in have]
    for a, b in zip(chain, chain[1:]):
        if not s[b] <= s[a]:
            fails.append(("*", f"{b} is not a subset of {a}"))
    if "keepbest" in have:
        for a, b in inputs["corpus"]["exact_dup_groups"]:
            if a in s["quality"] and b in s["quality"] and len({a, b} & s["keepbest"]) != 1:
                fails.append(("*", f"planted exact duplicate {a},{b} did not collapse"))
    if "semdedup" in have:
        for a, b in inputs["corpus"]["vec_dup_groups"]:
            if a in s["keepbest"] and b in s["keepbest"] and len({a, b} & s["semdedup"]) != 1:
                fails.append(("*", f"planted identical embeddings {a},{b} did not collapse"))
    if "minhash" not in have:
        return fails
    exact = {(a, b): j for a, b, j in con.execute(EXACT_PAIRS).fetchall()}
    found = {(min(a, b), max(a, b)): j for a, b, j in
             con.execute("SELECT id_a, id_b, jaccard FROM minhash").fetchall()}
    for p, j in found.items():
        if p not in exact or abs(exact[p] - j) > 1e-9:
            fails.append(("*", f"minhash pair {p} (j={j}) not an exact pair"))
            break
    missed = [p for p, j in exact.items() if j == 1.0 and p not in found]
    if missed:
        fails.append(("*", f"{len(missed)} identical-text pairs missed, e.g. {missed[0]}"))
    if "keepbest" not in have:
        return fails
    # q113's keep-best rule over the pipeline's own pairs: one winner per
    # connected component, the highest mean_p, ties to the smaller id
    parent = {d: d for d in s["quality"]}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in found:
        parent[root(a)] = root(b)
    score = dict(con.execute("SELECT doc_id, mean_p FROM unigram").fetchall())
    best = {}
    for d in s["quality"]:
        key = (-score[d], d)
        r = root(d)
        if r not in best or key < best[r]:
            best[r] = key
    if {k[1] for k in best.values()} != s["keepbest"]:
        fails.append(("*", "keep-best winners differ from the highest-score rule per cluster"))
    return fails


def _close(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)))


def _same(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(sorted(got), sorted(want)))


# the rollup keeps exact decimal sums of the 2-decimal values
ROLLUP = """SELECT event_type, count(*) AS n_rows, count(value) AS value_cnt,
  sum(value::DECIMAL(18, 2))::DOUBLE AS value_sum, min(value) AS value_min,
  max(value) AS value_max FROM {src} GROUP BY 1 ORDER BY 1"""


def ingest(counters):
    """Final folio, rollup and stream rollup against DuckDB over the
    batches; planted probe repeats must be found."""
    con = duckdb.connect()
    src, chk = counters["input_dir"], counters["check_dir"]
    fails = []

    def batches(view, key):
        files = ", ".join(f"'{src}/events_{i:04d}.parquet'" for i in counters[key])
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet([{files}])")
    batches("batches", "appended")
    batches("rolled", "rolled")
    want = "SELECT * FROM batches"
    for i in counters["upserts"]:
        u = f"'{src}/upsert_{i:04d}.parquet'"
        want = (f"SELECT * FROM ({want}) WHERE event_id NOT IN (SELECT event_id FROM {u}) "
                f"UNION ALL SELECT * FROM {u}")
    cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
    w = con.execute(f"SELECT {cols} FROM ({want})").fetchall()
    g = con.execute(f"SELECT {cols} FROM '{chk}/folio/*.parquet'").fetchall()
    if sorted(w) != sorted(g):
        fails.append(("*", f"promoted folio: {len(g)} rows vs {len(w)} expected"))
    rcols = "event_type, n_rows, value_cnt, value_sum::DOUBLE, value_min, value_max"
    got = con.execute(f"SELECT {rcols} FROM '{chk}/rollup/*.parquet'").fetchall()
    if not _same(got, con.execute(ROLLUP.format(src="rolled")).fetchall()):
        fails.append(("*", "rollup differs from the batches' aggregate"))
    fed = ", ".join(f"'{src}/stream_{i:04d}.txt'" for i in counters["fed"])
    con.execute(f"""CREATE VIEW frames AS SELECT column1 AS event_type, column2 AS value
        FROM read_csv([{fed}], header=false,
                      columns={{'column0': 'BIGINT', 'column1': 'VARCHAR', 'column2': 'DOUBLE'}})""")
    got = con.execute(f"SELECT {rcols} FROM '{chk}/stream_rollup/*.parquet'").fetchall()
    if not _same(got, con.execute(ROLLUP.format(src="frames")).fetchall()):
        fails.append(("*", "stream rollup differs from the fed frames' aggregate"))
    for p in counters["probes"]:
        i = p["step"]
        prev = con.execute(f"SELECT doc_id FROM '{src}/docs_{i:04d}.parquet'").fetchall()
        nxt = con.execute(f"SELECT doc_id FROM '{src}/docs_{i + 1:04d}.parquet'").fetchall()
        hits = {tuple(h) for h in p["hits"]}
        planted = {(prev[k + 1][0], nxt[k][0]) for k in range(0, len(nxt) - 1, 25)}
        if not planted <= hits:
            fails.append((f"step_{i}", f"probe missed {sorted(planted - hits)[:3]}"))
    return fails
