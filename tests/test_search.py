"""Search pipeline semantics, mirroring the reference's 11 in-module tests
(src/search/mod.rs:218-464): ascending order, threshold-vs-topk exclusivity,
context size and boundary clamping, multi-doc coverage, empty corpus,
case-insensitive embed with original lines preserved."""

import pytest
from pyspark.sql import functions as F

from semtools_spark.operators import search as S

DOCS = [
    (0, "alpha beta\ngamma delta\nspark join vector\nepsilon zeta\nomega"),
    (1, "spark join vector\nunrelated words here"),
    (2, ""),  # dropped (search/mod.rs:57-59)
    (3, "SPARK JOIN VECTOR"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_split_lines_drops_empty_and_is_zero_based(spark, docs):
    lines = S.split_lines(docs).collect()
    by_doc = {}
    for r in lines:
        by_doc.setdefault(r.doc, []).append((r.line_no, r.line))
    assert 2 not in by_doc
    assert by_doc[0][0] == (0, "alpha beta")
    assert by_doc[0][4] == (4, "omega")


def test_topk_ascending_and_exact_match_first(spark, docs):
    res = S.search(docs, "spark join vector", top_k=3, n_lines=0).collect()
    assert len(res) == 3
    dists = [r.distance for r in res]
    assert dists == sorted(dists)
    # two exact-text lines (docs 0 and 1) must be the nearest
    assert {(r.doc, r.match_line) for r in res[:2]} == {(0, 2), (1, 0)}
    assert res[0].distance < 1e-6


def test_threshold_mode_ignores_topk(spark, docs):
    # max_distance set ⇒ ALL under threshold, top_k ignored (mod.rs:113-119)
    res = S.search(docs, "spark join vector", top_k=1, max_distance=1.5, n_lines=0)
    assert res.count() > 1


def test_threshold_filters(spark, docs):
    res = S.search(docs, "spark join vector", max_distance=1e-6, n_lines=0).collect()
    # exactly the two verbatim lines (doc 0 line 2, doc 1 line 0) pass
    assert {(r.doc, r.match_line) for r in res} == {(0, 2), (1, 0)}


def test_context_window_clamps_at_boundaries(spark, docs):
    res = S.search(docs, "spark join vector", top_k=1, n_lines=2).collect()[0]
    # match at doc 0 line 2, window [0, 5) — full doc, clamped
    assert (res.start, res.end, res.match_line) == (0, 5, 2)
    assert res.content.split("\n") == [
        "alpha beta", "gamma delta", "spark join vector", "epsilon zeta", "omega",
    ]


def test_context_window_clamps_at_start(spark, docs):
    res = S.search(docs, "unrelated words here", top_k=1, n_lines=3).collect()[0]
    assert (res.doc, res.start, res.end, res.match_line) == (1, 0, 2, 1)


def test_case_insensitive_embeds_lower_but_returns_original(spark, docs):
    res = S.search(docs, "SPARK JOIN VECTOR", top_k=3, n_lines=0, ignore_case=True)
    rows = res.collect()
    # docs 0/1/3 all tie at distance 0 under case folding
    assert [r.distance < 1e-6 for r in rows] == [True, True, True]
    d3 = [r for r in rows if r.doc == 3][0]
    assert d3.content == "SPARK JOIN VECTOR"  # original casing preserved (S2)


def test_empty_corpus_returns_empty(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert S.search(empty, "anything", top_k=3).count() == 0


def test_deterministic_tiebreak(spark, docs):
    a = S.search(docs, "spark join vector", top_k=3, n_lines=1).collect()
    b = S.search(docs, "spark join vector", top_k=3, n_lines=1).collect()
    assert a == b


def test_grep_literal_and_case(spark, docs):
    assert S.grep(docs, "spark join").count() == 2
    assert S.grep(docs, "spark join", ignore_case=True).count() == 3
    assert S.grep(docs, "a.b", literal=True).count() == 0  # escaped dot


def test_read_range_clamps_end(spark, docs):
    r = S.read_range(docs, 0, 3, 99).collect()[0]
    assert (r.start, r.end) == (3, 5)
    assert r.content == "epsilon zeta\nomega"


def test_search_on_testdata_documents(documents):
    res = S.search(documents, "spark join vector", top_k=5, n_lines=0)
    rows = res.collect()
    assert len(rows) == 5
    assert all(rows[i].distance <= rows[i + 1].distance for i in range(4))


def test_score_plan_has_no_context_shuffle_on_corpus(spark, docs):
    # top-k compiles to TakeOrderedAndProject (partial top-k, no full sort)
    lines = S.split_lines(docs)
    scored = S.score_lines(lines, "q").orderBy("distance").limit(3)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_threshold_mode_never_broadcasts_matches(spark, docs):
    """Threshold mode returns an unbounded match set — broadcasting it is
    an OOM at scale (VERDICT r1 'What's wrong' #5). The context join must
    be a shuffle join; top-k mode (k rows) keeps the broadcast."""
    thr = S.search(docs, "spark join vector", max_distance=1.5, n_lines=1)
    plan = thr._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan
    topk = S.search(docs, "spark join vector", top_k=2, n_lines=1)
    plan_topk = topk._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan_topk


def test_grep_context_clamped_like_reference(spark, docs):
    """±N context clamped at document bounds (ask/tools.rs:535-537:
    start = match-n floored at 0, end = min(match+n+1, len))."""
    rows = S.grep(docs, "spark join", n_lines=2).orderBy("doc").collect()
    by_doc = {r.doc: r for r in rows}
    # doc 0: match at line 2 of 5 → window [0, 5)
    assert (by_doc[0].start, by_doc[0].end, by_doc[0].match_line) == (0, 5, 2)
    assert by_doc[0].content.split("\n")[2] == "spark join vector"
    # doc 1: match at line 0 of 2 → clamped window [0, 2)
    assert (by_doc[1].start, by_doc[1].end, by_doc[1].match_line) == (0, 2, 0)
    assert by_doc[1].line == "spark join vector"


def test_grep_skips_binary_documents(spark):
    """NUL byte ⇒ binary ⇒ skipped (BinaryDetection::quit, tools.rs:485)."""
    d = spark.createDataFrame(
        [(0, "match me\nplain text"), (1, "match me\x00binary junk")],
        ["doc_id", "text"],
    )
    assert {r.doc for r in S.grep(d, "match me").collect()} == {0}
    assert {r.doc for r in S.grep(d, "match me", skip_binary=False).collect()} == {0, 1}


def test_grep_by_file_groups_matches(spark, docs):
    rows = S.grep_by_file(docs, "spark join", ignore_case=True).collect()
    got = {r.doc: (r.n_matches, list(r.match_lines)) for r in rows}
    assert got == {0: (1, [2]), 1: (1, [0]), 3: (1, [0])}


def test_formatters_match_reference_layout(spark, docs):
    import json

    from semtools_spark import formatters as FM

    res = S.search(docs, "spark join vector", top_k=1, n_lines=1)
    # O1 text: header + 1-based right-aligned line numbers (cmds/search.rs:43-59)
    txt = FM.format_search_text(res).collect()[0].text
    first, *rest = txt.split("\n")
    assert first.startswith("0:1::4 (")
    assert rest[0] == "   2: gamma delta"
    assert rest[1] == "   3: spark join vector"
    # O3 per-row JSON: SearchResultJSON field names (json_mode.rs:17-25)
    obj = json.loads(FM.search_result_json(res).collect()[0].json)
    assert set(obj) == {
        "filename", "start_line_number", "end_line_number",
        "match_line_number", "distance", "content",
    }
    assert obj["match_line_number"] == 2
    # O3 wrapped SearchOutput (json_mode.rs:27-30)
    out = json.loads(FM.search_output_json(res).collect()[0].json)
    assert list(out) == ["results"] and len(out["results"]) == 1
    # A7 chunk rendering (ask/tools.rs:530-547)
    g = S.grep(docs, "spark join", n_lines=1)
    chunk = FM.format_grep_chunks(g).orderBy("doc").collect()[0].chunk
    assert chunk.startswith("<chunk file=0 start=1 end=4>\n")
    assert chunk.endswith("\n</chunk>\n")
