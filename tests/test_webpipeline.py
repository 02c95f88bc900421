"""North-rule gates: byte-identical extraction per url, golden-fixture
P/R ≥ 0.95, and checkpoint-manifest resume after injected failure."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from semtools_spark.operators.parse import parse_pages, passthrough_predicate
from semtools_spark.pipeline import StageFailure, run_webkg_pipeline
from semtools_spark.sources.web_pages import generate_web_pages, write_web_pages

N_PAGES = 300
SEED = 42
FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", f"webkg_graph_n{N_PAGES}_s{SEED}.jsonl"
)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "web_pages.parquet")
    write_web_pages(spark, path, N_PAGES, SEED)
    return path


def test_corpus_schema_and_determinism(spark, pages_path):
    df = spark.read.parquet(pages_path)
    assert dict(df.dtypes) == {
        "url": "string", "warc_ts": "timestamp", "html": "binary",
        "text": "string", "lang": "string",
    }
    assert df.count() == N_PAGES
    # regenerating (different partitioning) yields the identical corpus
    again = generate_web_pages(spark, N_PAGES, SEED, num_partitions=3)
    sub = df.select("url", "text", "lang", "warc_ts")
    assert again.select("url", "text", "lang", "warc_ts").exceptAll(sub).count() == 0


def test_extraction_byte_identical_per_url(spark, pages_path):
    """The input_hint invariant: extract(html) == text for EVERY url —
    both the passthrough branch and the html-extraction branch."""
    pages = spark.read.parquet(pages_path)
    parsed = parse_pages(pages).withColumnRenamed("text", "extracted")
    joined = parsed.join(pages.select("url", "text"), "url")
    assert joined.count() == N_PAGES
    mismatches = joined.filter(F.col("extracted") != F.col("text")).count()
    assert mismatches == 0
    # both branches are non-trivially exercised
    n_pass = pages.filter(passthrough_predicate()).count()
    assert 0 < n_pass < N_PAGES


def test_pipeline_matches_golden_fixture(spark, pages_path, tmp_path):
    """P/R vs the committed single-node reference run (BASELINE.json gate:
    ≥ 0.95; deterministic engine ⇒ expect exactly 1.0)."""
    out = str(tmp_path / "kg_out")
    report = run_webkg_pipeline(spark, pages_path, out, dim=64, seed=SEED)
    got = {
        (r.subj, r.pred, r.obj, r.subj_id, r.obj_id, r.n_mentions)
        for r in spark.read.parquet(report["paths"]["graph"]).collect()
    }
    with open(FIXTURE) as f:
        want = {
            (d["subj"], d["pred"], d["obj"], d["subj_id"], d["obj_id"], d["n_mentions"])
            for d in (json.loads(line) for line in f)
        }
    assert want, "fixture missing/empty"
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0


def test_pipeline_resume_after_failure(spark, pages_path, tmp_path):
    """Kill after stage 'triples'; rerun must (a) skip recomputing parse
    and triples — their parquet part files are untouched on disk — and
    (b) produce output identical to a clean run."""
    out = str(tmp_path / "kg_resume")
    with pytest.raises(StageFailure):
        run_webkg_pipeline(spark, pages_path, out, seed=SEED, fail_after="triples")

    def part_mtimes(stage):
        d = os.path.join(out, f"{stage}.parquet")
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = {s: part_mtimes(s) for s in ("parse", "triples")}
    report = run_webkg_pipeline(spark, pages_path, out, seed=SEED)
    after = {s: part_mtimes(s) for s in ("parse", "triples")}
    assert before == after, "resume rewrote already-committed stages"
    assert report["stages"]["parse"]["skipped"]
    assert report["stages"]["triples"]["skipped"]
    assert not report["stages"]["graph"]["skipped"]

    clean = str(tmp_path / "kg_clean")
    clean_report = run_webkg_pipeline(spark, pages_path, clean, seed=SEED)
    a = spark.read.parquet(report["paths"]["graph"])
    b = spark.read.parquet(clean_report["paths"]["graph"])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # manifest carries per-partition lineage with real row/byte counts
    from semtools_spark.pipeline import CheckpointManifest

    entries = CheckpointManifest(spark, out).entries()
    by_stage = {e["stage"]: e for e in entries}
    assert set(by_stage) == {"parse", "triples", "link", "canon", "graph"}
    for e in by_stage.values():
        assert e["partitions"] and all(p["bytes"] > 0 for p in e["partitions"])
        assert e["rows"] == sum(p["rows"] for p in e["partitions"])


def test_manifest_compaction_folds_records_and_caches_probes(spark, tmp_path, monkeypatch):
    """VERDICT r5 wrong #3: after thousands of runs, committed() re-read
    every record file per probe. compact() folds the loose records into
    one segment (entries identical, order preserved), a fresh open
    auto-compacts past COMPACT_AFTER, and a probe afterwards reads O(1)
    manifest files, not O(total-commits)."""
    from semtools_spark import fs as hfs
    from semtools_spark.pipeline import CheckpointManifest

    root = str(tmp_path / "m")
    m = CheckpointManifest(spark, root, auto_compact=False)
    n = CheckpointManifest.COMPACT_AFTER + 44
    for i in range(n):
        m.commit({"stage": f"s{i % 7}", "fingerprint": f"fp{i}", "i": i})
    before = m.entries()
    assert len(before) == n

    folded = m.compact()
    assert folded == n
    assert m.entries() == before
    assert m.committed("s3", "fp3")["i"] == 3
    # exactly one segment remains on disk; loose records are gone
    names = [nm for nm, _s, d in hfs.listdir(spark, m.path) if not d]
    assert len(names) == 1 and names[0].endswith(CheckpointManifest.SEGMENT_EXT)

    # appends after compaction land after the segment in order
    m.commit({"stage": "sX", "fingerprint": "fpX", "i": 10_000})
    assert m.entries() == before + [
        {"stage": "sX", "fingerprint": "fpX", "i": 10_000}
    ]

    # a FRESH manifest probe reads the segment + the one newer record,
    # NOT n+1 files
    calls: list[str] = []
    real_read = hfs.read_text

    def counting_read(spark_, path):
        calls.append(path)
        return real_read(spark_, path)

    monkeypatch.setattr(hfs, "read_text", counting_read)
    m2 = CheckpointManifest(spark, root)
    assert m2.committed("s3", "fp3")["i"] == 3
    probe_reads = [p for p in calls if "/_manifest/" in p]
    assert len(probe_reads) <= 2, probe_reads
    # and within one process, a second probe re-reads NOTHING
    calls.clear()
    assert m2.committed("s5", "fp5")["i"] == 5
    assert [p for p in calls if "/_manifest/" in p] == []

    # auto-compaction at open: rebuild loose records, then a fresh open
    # folds them without being asked
    monkeypatch.setattr(hfs, "read_text", real_read)
    root2 = str(tmp_path / "m2")
    m3 = CheckpointManifest(spark, root2, auto_compact=False)
    for i in range(CheckpointManifest.COMPACT_AFTER + 1):
        m3.commit({"stage": "s", "fingerprint": f"f{i}", "i": i})
    m4 = CheckpointManifest(spark, root2)
    names2 = [nm for nm, _s, d in hfs.listdir(spark, m4.path) if not d]
    assert len(names2) == 1 and names2[0].endswith(CheckpointManifest.SEGMENT_EXT)
    assert len(m4.entries()) == CheckpointManifest.COMPACT_AFTER + 1


def test_compact_never_deletes_unfolded_lagging_clock_record(spark, tmp_path):
    """ADVICE r6 (low): compact() used to delete EVERY record file whose
    stem sorted at or below the segment stem — a record committed
    concurrently by a second driver whose clock lags the segment stem
    was deleted without being in the segment (silent loss; its stage
    re-ran on resume). Now cleanup deletes only the exact names that
    were folded, readers consume every loose record regardless of stem
    order, and the next fold absorbs the laggard."""
    import json

    from semtools_spark import fs as hfs
    from semtools_spark.pipeline import CheckpointManifest

    root = str(tmp_path / "mlag")
    m = CheckpointManifest(spark, root, auto_compact=False)
    for i in range(5):
        m.commit({"stage": "s", "fingerprint": f"fp{i}", "i": i})
    assert m.compact() == 5

    # a second driver's record lands with a stem BELOW the segment stem
    # (lagging clock): written directly, bypassing this process's cache
    lag = {"stage": "s", "fingerprint": "fp_lag", "i": 99}
    hfs.write_text(
        spark, f"{m.path}/00000000000000000001-deadbeef.json", json.dumps(lag)
    )

    # a fresh reader sees it despite the stem ordering
    m2 = CheckpointManifest(spark, root, auto_compact=False)
    assert m2.committed("s", "fp_lag") == lag

    # compacting again folds it instead of deleting it, and dedups the
    # refolded segment records
    assert m2.compact() == 2
    m3 = CheckpointManifest(spark, root, auto_compact=False)
    assert m3.committed("s", "fp_lag") == lag
    assert len(m3.entries()) == 6
    names = [nm for nm, _s, d in hfs.listdir(spark, m3.path) if not d]
    assert len(names) == 1 and names[0].endswith(CheckpointManifest.SEGMENT_EXT)


def test_pipeline_resume_survives_manifest_compaction(spark, pages_path, tmp_path):
    """Stage-level resume must keep working when the manifest's records
    have been folded into a segment between runs."""
    from semtools_spark.pipeline import CheckpointManifest

    out = str(tmp_path / "kg_compact_resume")
    run_webkg_pipeline(spark, pages_path, out, seed=SEED)
    m = CheckpointManifest(spark, out, auto_compact=False)
    assert m.compact() >= 5  # one record per stage was folded
    report = run_webkg_pipeline(spark, pages_path, out, seed=SEED)
    assert all(s["skipped"] for s in report["stages"].values()), report["stages"]


def test_pipeline_input_change_invalidates_fingerprint(spark, tmp_path):
    """A changed input corpus must re-run parse (fingerprint mismatch)."""
    p1 = str(tmp_path / "c1.parquet")
    write_web_pages(spark, p1, 50, SEED)
    out = str(tmp_path / "kg_fp")
    r1 = run_webkg_pipeline(spark, p1, out, seed=SEED)
    assert not r1["stages"]["parse"]["skipped"]
    write_web_pages(spark, p1, 60, SEED)  # corpus grew
    r2 = run_webkg_pipeline(spark, p1, out, seed=SEED)
    assert not r2["stages"]["parse"]["skipped"]
    assert spark.read.parquet(r2["paths"]["parse"]).count() == 60


def test_pipeline_corrupted_stage_output_reruns(spark, pages_path, tmp_path):
    """A committed stage whose parquet no longer matches its per-partition
    lineage (part file deleted after commit) must re-run, not be trusted
    (ADVICE r1: resume previously checked only directory existence)."""
    out = str(tmp_path / "kg_corrupt")
    run_webkg_pipeline(spark, pages_path, out, seed=SEED)

    tdir = os.path.join(out, "triples.parquet")
    victim = next(f for f in os.listdir(tdir) if f.endswith(".parquet"))
    os.remove(os.path.join(tdir, victim))

    report = run_webkg_pipeline(spark, pages_path, out, seed=SEED)
    assert report["stages"]["parse"]["skipped"]          # intact → reused
    assert not report["stages"]["triples"]["skipped"]    # corrupted → re-ran
    # re-run restored output matching a clean run
    clean = str(tmp_path / "kg_clean2")
    clean_report = run_webkg_pipeline(spark, pages_path, clean, seed=SEED)
    a = spark.read.parquet(report["paths"]["graph"])
    b = spark.read.parquet(clean_report["paths"]["graph"])
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_manifest_records_task_attempt_lineage(spark, pages_path, tmp_path):
    """P5 observability: every committed stage record carries task-attempt
    counts (succeeded/failed/attempts + the retry bound) alongside the
    per-partition (file, rows, bytes) lineage."""
    out = str(tmp_path / "kg_attempts")
    run_webkg_pipeline(spark, pages_path, out)
    from semtools_spark.pipeline import CheckpointManifest

    entries = CheckpointManifest(spark, out).entries()
    assert {e["stage"] for e in entries} == {"parse", "triples", "link", "canon", "graph"}
    for e in entries:
        a = e["attempts"]
        assert a["tasks_succeeded"] > 0, e["stage"]
        assert a["task_attempts"] == a["tasks_succeeded"] + a["task_failures"]
        assert a["max_task_failures"] >= 1
        assert e["partitions"], e["stage"]


def test_pipeline_lsh_link_path_matches_fixture(spark, pages_path, tmp_path):
    """The LSH-bucketed linking path (--link-lsh-above) produces the SAME
    golden graph on the flagship corpus: every mention is an exact catalog
    surface form, so identical vectors collide in their bucket and link at
    distance 0 — P/R stays exactly 1.0 through the approximate path."""
    out = str(tmp_path / "kg_lsh")
    report = run_webkg_pipeline(spark, pages_path, out, dim=64, seed=SEED,
                                link_lsh_above=1)
    got = {
        (r.subj, r.pred, r.obj, r.subj_id, r.obj_id, r.n_mentions)
        for r in spark.read.parquet(report["paths"]["graph"]).collect()
    }
    with open(FIXTURE) as f:
        want = {
            (d["subj"], d["pred"], d["obj"], d["subj_id"], d["obj_id"], d["n_mentions"])
            for d in (json.loads(line) for line in f)
        }
    assert got == want


def test_pipeline_dedup_stage(spark, pages_path, tmp_path):
    """dedup_pages=True: a corpus with byte-identical duplicate pages
    (same html under different urls) collapses to min-url survivors
    before extraction — triple provenance is NOT inflated, and the graph
    equals the run over the duplicate-free corpus."""
    pages = spark.read.parquet(pages_path)
    dups = pages.limit(40).withColumn("url", F.concat(F.lit("dup://"), F.col("url")))
    noisy_path = str(tmp_path / "noisy_pages.parquet")
    pages.unionByName(dups).write.parquet(noisy_path)

    out_clean = str(tmp_path / "kg_clean")
    out_dedup = str(tmp_path / "kg_dedup")
    # dedup on BOTH runs: the original corpus itself contains a few
    # naturally identical pages, so the invariant is that the 40 injected
    # url-renamed copies add NOTHING once dedup is on
    clean = run_webkg_pipeline(spark, pages_path, out_clean, dim=64, seed=SEED,
                               dedup_pages=True)
    dedup = run_webkg_pipeline(spark, noisy_path, out_dedup, dim=64, seed=SEED,
                               dedup_pages=True)
    n_distinct = spark.read.parquet(pages_path).select("text").distinct().count()
    assert dedup["stages"]["dedup"]["rows"] == n_distinct < N_PAGES + 40
    assert clean["stages"]["dedup"]["rows"] == n_distinct
    g_clean = {tuple(r) for r in spark.read.parquet(clean["paths"]["graph"]).collect()}
    g_dedup = {tuple(r) for r in spark.read.parquet(dedup["paths"]["graph"]).collect()}
    assert g_clean == g_dedup
    # non-vacuous: the noisy corpus really is bigger
    assert spark.read.parquet(noisy_path).count() == N_PAGES + 40


def test_pluggable_extractor_slot(spark, pages_path, tmp_path):
    """parse_pages/run_webkg_pipeline accept a custom bytes->str
    extractor: the needs-parse branch runs it (passthrough unaffected),
    the parse fingerprint keys on the extractor identity (a re-run with a
    DIFFERENT extractor re-parses instead of trusting the cached stage),
    and the default path's byte-identity fixtures are untouched."""

    # defined INSIDE the test so cloudpickle ships it by value (a
    # module-level function in tests/ pickles by reference, which worker
    # processes cannot import)
    def _shout_extractor(html: bytes) -> str:
        from semtools_spark.operators.parse import extract_text

        return extract_text(html).upper()

    pages = spark.read.parquet(pages_path)
    parsed = parse_pages(pages, extractor=_shout_extractor)
    html_rows = parsed.join(
        pages.filter(~passthrough_predicate()).select("url"), "url", "left_semi"
    )
    sample = html_rows.filter(F.length("text") > 0).limit(5).collect()
    assert sample and all(r.text == r.text.upper() for r in sample)
    # passthrough branch is NOT run through the extractor
    pass_rows = parsed.join(
        pages.filter(passthrough_predicate()).select("url", F.col("text").alias("orig")),
        "url",
    )
    assert pass_rows.filter(F.col("text") != F.col("orig")).count() == 0

    out = str(tmp_path / "kg_ext")
    r1 = run_webkg_pipeline(spark, pages_path, out, seed=SEED)
    assert not r1["stages"]["parse"]["skipped"]
    # same corpus, different extractor -> parse fingerprint must mismatch
    r2 = run_webkg_pipeline(spark, pages_path, out, seed=SEED,
                            extractor=_shout_extractor)
    assert not r2["stages"]["parse"]["skipped"]
    # and re-running with the same custom extractor resumes
    r3 = run_webkg_pipeline(spark, pages_path, out, seed=SEED,
                            extractor=_shout_extractor)
    assert r3["stages"]["parse"]["skipped"]
    # an extractor whose BEHAVIOR changed under the same name must bump
    # __extractor_version__ — that alone invalidates the cached parse
    # (the shipped extract_any carries such a version; without this, a
    # round-7-style capability change would resume over stale texts)
    _shout_extractor.__extractor_version__ = 1
    try:
        r4 = run_webkg_pipeline(spark, pages_path, out, seed=SEED,
                                extractor=_shout_extractor)
        assert not r4["stages"]["parse"]["skipped"]
        r5 = run_webkg_pipeline(spark, pages_path, out, seed=SEED,
                                extractor=_shout_extractor)
        assert r5["stages"]["parse"]["skipped"]
    finally:
        del _shout_extractor.__extractor_version__


def test_run_kg_cli_extractor_flag(spark, pages_path, tmp_path):
    """jobs/run_kg.py --extractor module:function: the named function runs
    as the parse UDF (importable on executors, unlike a test closure).
    Pointing it at the pinned extract_text must reproduce the default
    graph exactly — same extraction logic through the Python-UDF path."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))
    try:
        import run_kg
    finally:
        sys.path.pop(0)

    out_udf = str(tmp_path / "kg_cli_udf")
    rc = run_kg.main([
        "--pages", pages_path, "--out", out_udf, "--seed", str(SEED),
        "--extractor", "semtools_spark.operators.parse:extract_text",
    ])
    assert rc == 0
    out_def = str(tmp_path / "kg_cli_def")
    rc = run_kg.main(["--pages", pages_path, "--out", out_def,
                      "--seed", str(SEED)])
    assert rc == 0
    a = spark.read.parquet(os.path.join(out_udf, "graph.parquet"))
    b = spark.read.parquet(os.path.join(out_def, "graph.parquet"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() > 0


def test_pipeline_near_dup_stage(spark, pages_path, tmp_path):
    """dedup_near=True: NEAR-duplicate pages (same html plus one appended
    paragraph, new url) collapse to the lexicographic-min-url survivor —
    the originals, since the injected copies sort under zzz:// — so the
    noisy corpus's graph equals the clean corpus's graph under the same
    flag. Exercises MinHash-LSH banding, CC clustering, and string (url)
    keys through the pipeline's resume manifest."""
    pages = spark.read.parquet(pages_path)
    dups = pages.limit(30).select(
        F.concat(F.lit("zzz://"), F.col("url")).alias("url"),
        "warc_ts",
        F.encode(
            F.concat(F.decode("html", "UTF-8"), F.lit("<p>near dup marker</p>")),
            "UTF-8",
        ).alias("html"),
        "text", "lang",
    )
    noisy_path = str(tmp_path / "near_noisy.parquet")
    pages.unionByName(dups).write.parquet(noisy_path)

    out_clean = str(tmp_path / "kg_nd_clean")
    out_noisy = str(tmp_path / "kg_nd_noisy")
    clean = run_webkg_pipeline(spark, pages_path, out_clean, seed=SEED,
                               dedup_near=True)
    noisy = run_webkg_pipeline(spark, noisy_path, out_noisy, seed=SEED,
                               dedup_near=True)
    # every injected near-copy was collapsed into its original's cluster
    assert noisy["stages"]["neardup"]["rows"] == clean["stages"]["neardup"]["rows"]
    surviving = {
        r.url for r in spark.read.parquet(noisy["paths"]["neardup"]).collect()
    }
    assert not any(u.startswith("zzz://") for u in surviving)
    g_clean = {tuple(r) for r in spark.read.parquet(clean["paths"]["graph"]).collect()}
    g_noisy = {tuple(r) for r in spark.read.parquet(noisy["paths"]["graph"]).collect()}
    assert g_clean == g_noisy
    # non-vacuous: the noisy corpus really had the extra pages
    assert spark.read.parquet(noisy_path).count() == N_PAGES + 30
