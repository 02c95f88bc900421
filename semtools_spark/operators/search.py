"""Semantic line search — the reference's `semtools search` pipeline.

Reference semantics reproduced (file:line cites into /root/reference):
  S1 line split: content.lines(); empty doc dropped       search/mod.rs:49-75
  S2 case folding embeds lower(line), returns original    search/mod.rs:63-67
  S3 batch static embedding (2048-token cap)              search/mod.rs:69
  S4 query embedding (driver-side, broadcast)             search/mod.rs:138
  S5 brute-force cosine scan (SIMD → batch matmul)        search/mod.rs:77-120
  S6 threshold filter distance < max_distance             search/mod.rs:88-89
  S7 context window [max(0,i−n), min(len,i+n+1))          search/mod.rs:90-100
  S8 sort ascending by distance                           search/mod.rs:106-111
  S9 top-k XOR threshold: max_distance set ⇒ return ALL
     under threshold (top_k ignored); else take(top_k)    search/mod.rs:113-119
  A3 grep tool (regex filter + context)                   ask/tools.rs:434-553
  A5 read tool (line-range slice)                         ask/tools.rs:323-341

Spark plan shape (scale notes):
  scan → filter(nonempty) → posexplode(lines) → pandas-UDF score (distance
  only crosses Arrow — 8 bytes/row, not the 256-float embedding) →
  • top-k mode: orderBy+limit compiles to TakeOrderedAndProject =
    per-partition partial top-k + driver merge; no full sort, no shuffle
    of the scored set.
  • context attach joins the (small) match set back to the lines relation
    with the match side BROADCAST — context cost is O(k·n_lines), not
    O(corpus). At 100 TB the scored scan is embarrassingly parallel and
    the only cross-executor movement is k rows.
Ties are broken (distance, doc, line_no) — the reference leaves ties
unspecified (search/mod.rs:107-111); we pin them for determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semtools_spark.embedding import (
    DEFAULT_DIM,
    DEFAULT_SEED,
    HashEmbedder,
    score_udf,
)

DEFAULT_N_LINES = 3  # reference CLI default, bin/semtools.rs:60-74
DEFAULT_TOP_K = 3


def split_lines(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """S1: document → one row per line. Empty/NULL docs dropped
    (search/mod.rs:57-59). line_no is 0-based (search/mod.rs:178)."""
    return docs.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    )


def score_lines(
    lines: DataFrame,
    query: str,
    *,
    ignore_case: bool = False,
    dim: int = DEFAULT_DIM,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """S2-S5: embed+score each line against the query vector.

    The query is embedded once on the driver (S4) and captured in the UDF
    closure (broadcast with the task). With ignore_case, the *embedded*
    text is lowercased but the returned line is the original (S2).
    """
    q = query.lower() if ignore_case else query
    qvec = HashEmbedder(dim=dim, seed=seed).embed_one(q)
    # asNondeterministic (guide §4.4): threshold mode filters on this
    # column, and the pushed-down filter otherwise DUPLICATES the UDF —
    # two ArrowEvalPython nodes, every line embedded and scored twice.
    # The scorer is pure (seeded static embedding), so results are
    # unchanged; the marking only stops the optimizer from cloning it.
    udf = score_udf(qvec, dim=dim, seed=seed, lowercase=ignore_case).asNondeterministic()
    return lines.withColumn("distance", udf(F.col("line")))


def attach_context(
    matches: DataFrame,
    lines: DataFrame,
    n_lines: int = DEFAULT_N_LINES,
    payload_cols: tuple = ("distance",),
    broadcast: bool = True,
) -> DataFrame:
    """S7: per match, the clamped window of surrounding lines.

    Implemented as a range-join of the match set against the lines relation,
    then group-by-match reassembly — context is computed for matches, never
    for the whole corpus. Emits start (inclusive) / end (exclusive) /
    match_line / content, clamped at document bounds.

    ``broadcast`` must only be True when the match set is bounded (top-k
    mode: k rows). In threshold mode the match set is unbounded — a
    broadcast there is an OOM at scale, so the caller requests a shuffle
    hash join on ``doc`` instead."""
    m = matches.select(
        F.col("doc").alias("m_doc"),
        F.col("line_no").alias("m_line_no"),
        *payload_cols,
    )
    if broadcast:
        m = F.broadcast(m)
    joined = lines.join(
        m,
        (F.col("doc") == F.col("m_doc"))
        & (F.col("line_no") >= F.col("m_line_no") - n_lines)
        & (F.col("line_no") <= F.col("m_line_no") + n_lines),
    )
    return (
        joined.groupBy("m_doc", "m_line_no", *payload_cols)
        .agg(
            F.min("line_no").alias("start"),
            (F.max("line_no") + 1).alias("end"),
            F.concat_ws(
                "\n",
                F.expr("transform(array_sort(collect_list(struct(line_no, line))), x -> x.line)"),
            ).alias("content"),
        )
        .select(
            F.col("m_doc").alias("doc"),
            F.col("start").cast("int"),
            F.col("end").cast("int"),
            F.col("m_line_no").cast("int").alias("match_line"),
            *payload_cols,
            "content",
        )
    )


def search(
    docs: DataFrame,
    query: str,
    *,
    top_k: int = DEFAULT_TOP_K,
    max_distance: float | None = None,
    n_lines: int = DEFAULT_N_LINES,
    ignore_case: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """End-to-end S1-S9. Returns (doc, start, end, match_line, distance,
    content) ordered ascending by (distance, doc, match_line).

    S9 exclusivity: if max_distance is set, ALL matches under threshold are
    returned and top_k is ignored; otherwise exactly top_k
    (search/mod.rs:113-119).
    """
    lines = split_lines(docs, id_col=id_col, text_col=text_col)
    scored = score_lines(lines, query, ignore_case=ignore_case, dim=dim, seed=seed)

    if max_distance is not None:
        # threshold mode: the match set is unbounded — never broadcast it
        matches = scored.filter(F.col("distance") < F.lit(float(max_distance)))
        bc = False
    else:
        # TakeOrderedAndProject: partial per-partition top-k + merge;
        # the k-row match set is safely broadcastable
        matches = scored.orderBy("distance", "doc", "line_no").limit(top_k)
        bc = True

    out = attach_context(
        matches.select("doc", "line_no", "distance"), lines, n_lines, broadcast=bc
    )
    return out.orderBy("distance", "doc", "match_line")


def grep(
    docs: DataFrame,
    pattern: str,
    *,
    ignore_case: bool = False,
    literal: bool = False,
    n_lines: int = 0,
    skip_binary: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """A3: regex/literal line grep with ±n_lines clamped context
    (ask/tools.rs:434-553). Literal patterns are regex-escaped
    (tools.rs:473-479); case-insensitivity via the (?i) inline flag
    (tools.rs:465-471); documents containing a NUL byte are skipped, the
    BinaryDetection::quit(b'\\x00') analog (tools.rs:485).

    Returns (doc, start, end, match_line, line, content): one row per
    match with its clamped [start, end) context window — the reference's
    per-match ``<chunk>`` unit (tools.rs:530-547). The match set is
    unbounded, so the context range-join never FORCES a broadcast hint
    (broadcast=False); Catalyst may still pick a BroadcastHashJoin from
    its own size estimates when the match set proves small at runtime —
    that's the desired adaptive behavior, while an unconditional hint
    would be an OOM risk at scale."""
    import re as _re

    pat = _re.escape(pattern) if literal else pattern
    if ignore_case:
        pat = f"(?i){pat}"
    if skip_binary:
        docs = docs.filter(~F.contains(F.col(text_col), F.lit("\x00")))
    lines = split_lines(docs, id_col=id_col, text_col=text_col)
    matches = lines.filter(F.col("line").rlike(pat)).select(
        "doc", "line_no", F.col("line").alias("match_text")
    )
    if n_lines == 0:
        return matches.select(
            "doc",
            F.col("line_no").cast("int").alias("start"),
            (F.col("line_no") + 1).cast("int").alias("end"),
            F.col("line_no").cast("int").alias("match_line"),
            F.col("match_text").alias("line"),
            F.col("match_text").alias("content"),
        ).orderBy("doc", "match_line")
    out = attach_context(
        matches, lines, n_lines, payload_cols=("match_text",), broadcast=False
    )
    return out.select(
        "doc", "start", "end", "match_line",
        F.col("match_text").alias("line"), "content",
    ).orderBy("doc", "match_line")


def grep_by_file(
    docs: DataFrame,
    pattern: str,
    *,
    ignore_case: bool = False,
    literal: bool = False,
    skip_binary: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """A3 per-file view: match lines grouped per document, mirroring the
    reference's ``HashMap<String, Vec<GrepMatch>>`` accumulation
    (ask/tools.rs:489-516). Returns (doc, n_matches, match_lines) where
    match_lines is the ordered array of 0-based matching line numbers."""
    m = grep(
        docs, pattern, ignore_case=ignore_case, literal=literal,
        n_lines=0, skip_binary=skip_binary, id_col=id_col, text_col=text_col,
    )
    return (
        m.groupBy("doc")
        .agg(
            F.count("*").alias("n_matches"),
            F.array_sort(F.collect_list("match_line")).alias("match_lines"),
        )
        .orderBy("doc")
    )


def read_range(
    docs: DataFrame,
    doc_id,
    start: int,
    end: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """A5: slice lines[start .. min(end, len)] of one document
    (ask/tools.rs:323-341); returns one row (doc, start, end, content)."""
    lines = split_lines(docs, id_col=id_col, text_col=text_col).filter(
        (F.col("doc") == F.lit(doc_id))
        & (F.col("line_no") >= start)
        & (F.col("line_no") < end)
    )
    return lines.groupBy("doc").agg(
        F.min("line_no").cast("int").alias("start"),
        (F.max("line_no") + 1).cast("int").alias("end"),
        F.concat_ws(
            "\n",
            F.expr("transform(array_sort(collect_list(struct(line_no, line))), x -> x.line)"),
        ).alias("content"),
    )
