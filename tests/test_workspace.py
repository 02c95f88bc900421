"""Workspace (W1-W9) — mirrors the reference's store test suite
(src/workspace/store.rs:717-1375): empty stats, sync+counts, idempotent
MERGE, incremental states incl. version bump, filtered search with
threshold, cascade delete, prune anti-join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semtools_spark.operators import workspace as W


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma\nsecond line here", 100),
        (2, "delta epsilon zeta", 100),
        (3, "eta theta iota kappa", 100),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, mtime long")


def _inject_crashes(monkeypatch, exempt=lambda args: False):
    """Route every hfs rename/write_text/delete through one IO counter.
    While ``ops["budget"]`` is None the calls are only counted (a dry
    run sizes a sweep); once it is set, the call that would exceed it
    raises "injected crash" — the kill point of one sweep iteration.
    Calls whose positional args ``exempt`` accepts are neither counted
    nor killed."""
    from semtools_spark import fs as hfs

    ops = {"n": 0, "budget": None}

    def wrap(fn):
        def _w(spark_, *a, **kw):
            if not exempt(a):
                if ops["budget"] is not None and ops["n"] >= ops["budget"]:
                    raise RuntimeError("injected crash")
                ops["n"] += 1
            return fn(spark_, *a, **kw)

        return _w

    for name in ("rename", "write_text", "delete"):
        monkeypatch.setattr(hfs, name, wrap(getattr(hfs, name)))
    return ops


def test_empty_stats(spark, tmp_path):
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    assert ws.stats() == {
        "total_documents": 0, "total_lines": 0, "dim": 16,
        "index_type": "exact-cosine", "last_search_index_type": None,
    }


def test_sync_counts_and_lines(spark, tmp_path, docs):
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    counts = ws.sync(docs, mtime_col="mtime")
    assert counts == {"new": 3}
    st = ws.stats()
    assert st["total_documents"] == 3
    assert st["total_lines"] == 4  # doc 1 has two lines
    # resync with no changes: everything unchanged, tables untouched
    counts2 = ws.sync(docs, mtime_col="mtime")
    assert counts2 == {"unchanged": 3}
    assert ws.stats()["total_lines"] == 4


def test_sync_idempotent_merge_on_change(spark, tmp_path, docs):
    """Reference upsert idempotency via deterministic ids
    (store.rs:950-1000): re-embedding a changed doc REPLACES its lines."""
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 2, F.lit("delta epsilon zeta CHANGED NOW"))
        .otherwise(F.col("text")),
    )
    counts = ws.sync(changed, mtime_col="mtime")
    assert counts.get("changed") == 1 and counts.get("unchanged") == 2
    lines2 = ws.lines().filter(F.col("doc") == 2).collect()
    assert len(lines2) == 1
    assert lines2[0].line == "delta epsilon zeta CHANGED NOW"


def test_version_bump_forces_reembed(spark, tmp_path, docs):
    """store.rs:1217-1260: stored _version < CURRENT ⇒ Changed."""
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    stale = ws.manifest().withColumn("_version", F.lit(0))
    W.merge_upsert(spark, ws.manifest_path, stale, ("doc",), num_buckets=ws.n_buckets)
    ws._publish_wsnap()  # readers pair tables by the workspace snapshot
    meta = docs.select(
        F.col("doc_id").alias("doc"),
        F.length("text").cast("long").alias("size_bytes"),
        F.col("mtime").cast("long").alias("mtime"),
    )
    states = {
        r.doc: r.state
        for r in W.classify_states(meta, ws.manifest(), key="doc").collect()
    }
    assert set(states.values()) == {W.STATE_CHANGED}


def test_search_threshold_and_subset(spark, tmp_path, docs):
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    hit = ws.search("alpha beta gamma", top_k=1).first()
    assert (hit.doc, hit.line_no) == (1, 0)
    # workspace semantics: threshold is a pushdown COMBINED with top_k
    # (store.rs:498-499 + :538-544), unlike file-search S9's either/or
    one = ws.search("alpha beta gamma", top_k=1, max_distance=2.0).collect()
    assert len(one) == 1 and (one[0].doc, one[0].line_no) == (1, 0)
    many = ws.search("alpha beta gamma", top_k=100, max_distance=2.0).collect()
    assert len(many) == ws.stats()["total_lines"]
    tight = ws.search("alpha beta gamma", top_k=100, max_distance=1e-9).collect()
    assert len(tight) == 1  # only the exact-match line (distance 0.0) passes
    # doc-subset filter (W5's pushed path filter)
    sub = ws.search("alpha beta gamma", top_k=10, doc_subset=[2, 3]).collect()
    assert {r.doc for r in sub} <= {2, 3}


def test_cascade_delete_and_prune(spark, tmp_path, docs):
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    deleted = ws.delete([1])
    assert deleted == {"docs": 1, "lines": 2}
    assert ws.lines().filter(F.col("doc") == 1).count() == 0
    # prune: source now only contains doc 2 → doc 3 is stale
    remaining = docs.filter(F.col("doc_id") == 2)
    pruned = ws.prune(remaining)
    assert pruned == {"docs": 1, "lines": 1}
    assert ws.stats() == {
        "total_documents": 1, "total_lines": 1, "dim": 16,
        "index_type": "exact-cosine", "last_search_index_type": None,
    }


def test_workspace_config_persisted_and_validated(spark, tmp_path):
    """W10: embedding params persist with the store (workspace.json);
    reopening with mismatched dim/seed must refuse (reference
    workspace/mod.rs:33-101 — config lives with the workspace)."""
    import os

    import pytest

    root = str(tmp_path / "ws")
    ws = W.Workspace(spark, root, dim=16, seed=7)
    assert os.path.isfile(os.path.join(root, "workspace.json"))

    # omit params → stored config is used
    again = W.Workspace(spark, root)
    assert (again.dim, again.seed) == (16, 7)

    with pytest.raises(ValueError, match="dim=16"):
        W.Workspace(spark, root, dim=32)
    with pytest.raises(ValueError, match="seed=7"):
        W.Workspace(spark, root, seed=8)


def test_workspace_resolve_env(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SEMTOOLS_WORKSPACE", "proj1")
    monkeypatch.setenv("SEMTOOLS_BASE_DIR", str(tmp_path / "base"))
    ws = W.Workspace.resolve(spark, dim=16)
    assert ws.root.endswith("base/proj1")
    named = W.Workspace.resolve(spark, name="other", dim=16)
    assert named.root.endswith("base/other")


def test_prune_without_driver_collect(spark, tmp_path):
    """Prune cascades through both tables via the DataFrame path (the
    stale set is never collect()ed) and stays correct even though the
    first delete swaps the manifest the anti-join read."""
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    docs = spark.createDataFrame(
        [(i, f"line a{i}\nline b{i}") for i in range(6)], ["doc_id", "text"]
    )
    ws.sync(docs)
    surviving = docs.filter("doc_id < 2")
    out = ws.prune(surviving)
    assert out == {"docs": 4, "lines": 8}
    assert ws.stats()["total_documents"] == 2
    assert ws.stats()["total_lines"] == 4


def test_stdin_adhoc_source_searchable(spark):
    """S11: one stdin-style ad-hoc doc (the reference names stdin input
    "<stdin>", cmds/search.rs:144-176) flows through the search path under
    a string key."""
    from semtools_spark.operators.search import search

    d = spark.createDataFrame(
        [("<stdin>", "alpha beta\nspark join vector\nomega")],
        "doc_id string, text string",
    )
    res = search(d, "spark join vector", top_k=1, n_lines=0).collect()
    assert len(res) == 1
    assert res[0].doc == "<stdin>" and res[0].match_line == 1


def test_workspace_json_surfaces(spark, tmp_path):
    """WorkspaceOutput / PruneOutput JSON payloads (reference
    json_mode.rs:40-51) carry live store counts."""
    import json

    ws = W.Workspace(spark, str(tmp_path / "wsj"), dim=16)
    docs = spark.createDataFrame(
        [(i, f"alpha {i}") for i in range(4)], ["doc_id", "text"]
    )
    ws.sync(docs)
    st = json.loads(ws.status_json())
    assert st == {"name": "wsj", "root_dir": ws.root, "total_documents": 4}
    pr = json.loads(ws.prune_json(docs.filter("doc_id < 1")))
    assert pr == {"files_removed": 3, "files_remaining": 1}


def test_agent_search_defaults_and_context(spark, tmp_path):
    """A4: the ask agent's search tool = workspace search under the agent
    defaults (n_lines=5, max_distance=0.5, top_k=3 — ask/tools.rs:109-128)
    with context windows attached from the stored lines."""
    ws = W.Workspace(spark, str(tmp_path / "wsa"), dim=16)
    text = "\n".join(f"filler line {i}" for i in range(6)) + "\nalpha beta gamma\n" \
           + "\n".join(f"tail line {i}" for i in range(6))
    ws.sync(spark.createDataFrame([(1, text)], ["doc_id", "text"]))
    rows = ws.agent_search("alpha beta gamma").collect()
    assert rows and rows[0].match_line == 6
    # ±5 clamped context window around line 6 of 13: [1, 12)
    assert (rows[0].start, rows[0].end) == (1, 12)
    assert rows[0].content.split("\n")[5] == "alpha beta gamma"
    assert all(r.distance < 0.5 for r in rows) and len(rows) <= 3


def test_workspace_on_file_scheme_uri(spark, tmp_path, docs):
    """The storage layer is the Hadoop FS API end-to-end: a workspace
    rooted at an explicit file:-scheme URI (not a bare local path) syncs,
    searches, and deletes — proving no os.* touches table paths."""
    ws = W.Workspace(spark, f"file://{tmp_path}/ws_uri", dim=16)
    counts = ws.sync(docs, mtime_col="mtime")
    assert counts == {"new": 3}
    assert ws.stats()["total_documents"] == 3
    # reopen from the URI: config round-trips through the FS API
    ws2 = W.Workspace(spark, f"file://{tmp_path}/ws_uri")
    assert ws2.dim == 16
    assert ws2.delete([2]) == {"docs": 1, "lines": 1}
    assert ws2.stats()["total_documents"] == 2


def test_killed_mid_merge_leaves_old_snapshot_readable(spark, tmp_path, docs, monkeypatch):
    """A crash between the tmp write and the directory swap must leave the
    previous table snapshot fully readable (the write-then-rename commit
    is the resume unit), and a retry must succeed."""
    from semtools_spark import fs as hfs

    ws = W.Workspace(spark, str(tmp_path / "ws_kill"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    before = {tuple(r) for r in ws.manifest().collect()}

    changed = docs.withColumn(
        "text", F.when(F.col("doc_id") == 2, F.lit("changed text now")).otherwise(F.col("text"))
    )
    real_rename = hfs.rename
    calls = {"n": 0}

    def crashing_rename(spark_, src, dst):
        calls["n"] += 1
        raise RuntimeError("injected kill before swap")

    monkeypatch.setattr(hfs, "rename", crashing_rename)
    with pytest.raises(Exception, match="injected kill"):
        ws.sync(changed, mtime_col="mtime")
    monkeypatch.setattr(hfs, "rename", real_rename)
    assert calls["n"] >= 1

    # old snapshot intact and readable
    assert {tuple(r) for r in ws.manifest().collect()} == before
    assert ws.stats()["total_lines"] == 4

    # retry commits cleanly
    counts = ws.sync(changed, mtime_col="mtime")
    assert counts.get("changed") == 1
    line = ws.lines().filter(F.col("doc") == 2).select("line").collect()
    assert [r.line for r in line] == ["changed text now"]


def test_delete_accepts_dataframe(spark, tmp_path, docs):
    """W7 distributed surface: delete takes a DataFrame of keys — no
    driver-side id collection."""
    ws = W.Workspace(spark, str(tmp_path / "ws_dfdel"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    keys = docs.filter(F.col("doc_id") >= 2).select(F.col("doc_id").alias("doc"))
    assert ws.delete(keys) == {"docs": 2, "lines": 2}
    assert ws.stats()["total_documents"] == 1


def test_stale_swap_dirs_swept_on_retry(spark, tmp_path, docs, monkeypatch):
    """Tmp dirs orphaned by a killed swap are removed by the next
    successful overwrite of the same table."""
    import os

    from semtools_spark import fs as hfs

    ws = W.Workspace(spark, str(tmp_path / "ws_sweep"), dim=16)
    ws.sync(docs, mtime_col="mtime")

    real_rename = hfs.rename

    def crashing_rename(spark_, src, dst):
        raise RuntimeError("injected kill before swap")

    changed = docs.withColumn(
        "text", F.when(F.col("doc_id") == 1, F.lit("edited")).otherwise(F.col("text"))
    )
    monkeypatch.setattr(hfs, "rename", crashing_rename)
    with pytest.raises(Exception, match="injected kill"):
        ws.sync(changed, mtime_col="mtime")
    monkeypatch.setattr(hfs, "rename", real_rename)
    orphans = [d for d in os.listdir(tmp_path / "ws_sweep") if ".__tmp_" in d]
    assert orphans, "kill should have left a tmp dir behind"

    ws.sync(changed, mtime_col="mtime")
    left = [d for d in os.listdir(tmp_path / "ws_sweep") if ".__tmp_" in d or ".__old_" in d]
    assert left == []


def test_configless_populated_workspace_refuses_open(spark, tmp_path, docs):
    """A workspace with data tables but a missing config (crashed config
    rewrite / hand-deleted file) is corruption: reopening must refuse
    loudly rather than adopt the caller's dim/seed over incompatible
    stored vectors (ADVICE r3). A config without n_buckets (written
    before bucketing, so its tables are unbucketed) refuses too, and
    the open rewrites nothing."""
    import json
    import os

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_noconf")
    ws = W.Workspace(spark, root, dim=32)
    ws.sync(docs)
    cfg_path = f"{root}/{W.Workspace.CONFIG_FILE}"
    cfg = json.loads(hfs.read_text(spark, cfg_path))
    os.remove(os.path.join(root, W.Workspace.CONFIG_FILE))
    with pytest.raises(IOError, match="no workspace.json"):
        W.Workspace(spark, root, dim=64)

    del cfg["n_buckets"]
    hfs.write_text(spark, cfg_path, json.dumps(cfg))
    listing = sorted(os.listdir(root))
    with pytest.raises(IOError, match="no n_buckets"):
        W.Workspace(spark, root)
    assert sorted(os.listdir(root)) == listing
    assert json.loads(hfs.read_text(spark, cfg_path)) == cfg


def _bucket_files(root, table):
    """{relpath: (size, mtime_ns)} for every parquet part under each
    __bucket= dir of a table."""
    import os

    out = {}
    tdir = os.path.join(root, table)
    for dirpath, _dirs, files in os.walk(tdir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[os.path.relpath(p, tdir)] = (st.st_size, st.st_mtime_ns)
    return out


def test_bucket_scoped_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The r4 O(delta) MERGE contract: an upsert touching ONE doc leaves
    every other bucket's parquet files byte-identical on disk (same path,
    size, mtime) — the old layout rewrote 100% of the table per sync."""
    import os as _os

    root = str(tmp_path / "ws_bucketed")
    ws = W.Workspace(spark, root, dim=16, n_buckets=8)
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i}", i) for i in range(64)],
        ["doc_id", "text", "mtime"],
    )
    ws.sync(docs, mtime_col="mtime")
    # the layout really is hive-bucketed
    buckets = W._bucket_ids(spark, ws.lines_path)
    assert len(buckets) > 4, buckets
    before_lines = _bucket_files(root, "line_embeddings.parquet")
    before_man = _bucket_files(root, "doc_manifest.parquet")

    changed = spark.createDataFrame(
        [(7, "alpha beta doc 7 CHANGED", 999)], ["doc_id", "text", "mtime"]
    )
    counts = ws.sync(changed, mtime_col="mtime")
    assert counts.get(W.STATE_CHANGED, 0) == 1

    # which bucket did doc 7 land in?
    target_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(7).cast("long")), F.lit(8)).cast("int").alias("b")
    ).first().b
    after_lines = _bucket_files(root, "line_embeddings.parquet")
    after_man = _bucket_files(root, "doc_manifest.parquet")
    for before, after in ((before_lines, after_lines), (before_man, after_man)):
        untouched_before = {
            p: v for p, v in before.items()
            if not p.startswith(f"__bucket={target_bucket}/")
        }
        untouched_after = {
            p: v for p, v in after.items()
            if not p.startswith(f"__bucket={target_bucket}/")
        }
        assert untouched_before == untouched_after
        # the touched bucket WAS rewritten
        assert {p for p in before if p.startswith(f"__bucket={target_bucket}/")} \
            != {p for p in after if p.startswith(f"__bucket={target_bucket}/")} or any(
                before[p] != after[p]
                for p in before
                if p.startswith(f"__bucket={target_bucket}/") and p in after
            )

    # data is correct after the partial rewrite
    got = {r.doc: r.line for r in ws.lines().collect()}
    assert got[7] == "alpha beta doc 7 CHANGED"
    assert len(got) == 64
    # search with a doc filter partition-prunes the bucketed scan
    hits = ws.search("alpha beta doc 7 CHANGED", top_k=1, doc_subset=[7])
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__bucket" in plan, plan
    assert hits.first().doc == 7


def test_string_keyed_workspace_end_to_end(spark, tmp_path):
    """A workspace keyed by url STRINGS (the web corpus's natural key)
    through sync → search → list-form delete → prune (r3 crashed in
    delete on the hardcoded 'doc long' schema)."""
    root = str(tmp_path / "ws_urls")
    ws = W.Workspace(spark, root, dim=16, n_buckets=4)
    docs = spark.createDataFrame(
        [(f"https://ex.com/p{i}", f"page text {i}", i) for i in range(12)],
        ["doc_id", "text", "mtime"],
    )
    counts = ws.sync(docs, mtime_col="mtime")
    assert counts[W.STATE_NEW] == 12
    hit = ws.search("page text 3", top_k=1, doc_subset=["https://ex.com/p3"]).first()
    assert hit.doc == "https://ex.com/p3"

    removed = ws.delete(["https://ex.com/p3", "https://ex.com/p4"])
    assert removed == {"docs": 2, "lines": 2}
    assert ws.stats()["total_documents"] == 10

    still = docs.filter(F.col("doc_id") < "https://ex.com/p8")
    pruned = ws.prune(still)
    assert pruned["docs"] == 2  # p8, p9 (p3/p4 already gone)
    assert ws.stats()["total_documents"] == 8


def test_workspace_ann_index_search_and_staleness(spark, tmp_path):
    """Persistent IVF index over the workspace (reference persists HNSW,
    store.rs:146-177): full-probe indexed search equals the exact scan;
    stats/last_search_index_type report the physical path; a sync AFTER
    the build MAINTAINS the index incrementally (r5 — reference upserts
    into its HNSW, store.rs:402-434), while a delete leaves it stale and
    search falls back to exact instead of reading evicted lines."""
    root = str(tmp_path / "ws_ann")
    ws = W.Workspace(spark, root, dim=16, n_buckets=4)
    docs = spark.createDataFrame(
        [(i, f"text body number {i}", i) for i in range(40)],
        ["doc_id", "text", "mtime"],
    )
    ws.sync(docs, mtime_col="mtime")
    assert ws.stats()["index_type"] == "exact-cosine"

    ws.build_ann_index(n_centroids=4)
    assert ws.stats()["index_type"] == "ivf-indexed"
    exact = [tuple(r) for r in ws.search("text body number 7", top_k=3).collect()]
    assert ws.last_search_index_type == "exact-cosine"
    full_probe = [
        tuple(r)
        for r in ws.search(
            "text body number 7", top_k=3, use_index=True, nprobe=4
        ).collect()
    ]
    assert ws.last_search_index_type == "ivf-indexed"
    assert full_probe == exact  # nprobe = n_centroids ⇒ exact
    # fractional probe still returns ranked results
    assert ws.search("text body number 7", top_k=3, use_index=True,
                     nprobe=1).count() <= 3

    # incremental maintenance: a sync keeps the index FRESH and the new
    # doc is searchable THROUGH it (full probe so centroid choice can't
    # hide the row)
    ws.sync(
        spark.createDataFrame([(99, "brand new doc", 99)],
                              ["doc_id", "text", "mtime"]),
        mtime_col="mtime",
    )
    assert ws.ann_index_fresh()
    assert ws.stats()["index_type"] == "ivf-indexed"
    hit = ws.search("brand new doc", top_k=1, use_index=True, nprobe=4).first()
    assert ws.last_search_index_type == "ivf-indexed"
    assert hit.doc == 99

    # delete() maintains the index too: doc 99 is evicted from its
    # inverted list and indexed search stays available
    ws.delete([99])
    assert ws.ann_index_fresh()
    idx = spark.read.parquet(ws.ann_index_path)
    assert idx.filter(F.col("doc") == 99).count() == 0
    assert ws.search("brand new doc", top_k=1, use_index=True, nprobe=4).first().doc != 99

    # an out-of-band table rewrite (no maintenance ran) → stale → exact
    # fallback instead of reading the outdated index
    W.merge_upsert(
        spark, ws.lines_path, ws.lines(), ("doc", "line_no"), num_buckets=ws.n_buckets
    )
    assert not ws.ann_index_fresh()
    assert ws.stats()["index_type"] == "exact-cosine"
    ws.search("text body number 7", top_k=1, use_index=True).first()
    assert ws.last_search_index_type == "exact-cosine"  # fell back


def test_bucketed_merge_equivalent_to_legacy_under_random_ops(spark, tmp_path):
    """Differential test of the bucket-scoped MERGE: a seeded random
    sequence of upserts and deletes applied to a bucketed table must
    match a pure-Python dict model of the same sequence after every
    step — the bucketing is physical layout only, never semantics."""
    import random

    rng = random.Random(20260817)
    buck = str(tmp_path / "bucketed_t")
    key_space = list(range(60))
    model: dict[int, tuple[str, int]] = {}

    for step in range(8):
        if step % 3 == 2:
            ks = rng.sample(key_space, rng.randint(1, 8))
            keys = spark.createDataFrame([(k,) for k in ks], "doc long")
            n_buck = W.delete_keys(spark, buck, keys, ("doc",), num_buckets=8)
            n_model = sum(model.pop(k, None) is not None for k in ks)
            assert n_buck == n_model, (step, n_buck, n_model)
        else:
            rows = [
                (k, f"v{rng.randint(0, 999)}", rng.randint(0, 9))
                for k in rng.sample(key_space, rng.randint(1, 12))
            ]
            upd = spark.createDataFrame(rows, "doc long, payload string, rev long")
            W.merge_upsert(spark, buck, upd, ("doc",), num_buckets=8)
            model.update((k, (p, r)) for k, p, r in rows)
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(buck).select("doc", "payload", "rev").collect()
        )
        assert got == sorted((k, p, r) for k, (p, r) in model.items()), step
    # the table really is bucketed
    assert W._bucket_ids(spark, buck)


def test_unbucketed_table_refused_and_left_untouched(spark, tmp_path):
    """merge_upsert and delete_keys maintain only the bucketed layout: on
    a pointer-less unbucketed parquet table both raise, and its files
    stay byte-identical (nothing is migrated or rewritten)."""
    import os

    t = str(tmp_path / "flat_t")
    spark.createDataFrame(
        [(i, f"p{i}") for i in range(20)], "doc long, payload string"
    ).write.parquet(t)

    def files():
        out = {}
        for dirpath, _dirs, names in os.walk(t):
            for n in names:
                with open(os.path.join(dirpath, n), "rb") as fh:
                    out[os.path.relpath(os.path.join(dirpath, n), t)] = fh.read()
        return out

    before = files()
    upd = spark.createDataFrame([(3, "CHANGED")], "doc long, payload string")
    with pytest.raises(IOError, match="unbucketed"):
        W.merge_upsert(spark, t, upd, ("doc",), num_buckets=8)
    keys = spark.createDataFrame([(3,)], "doc long")
    with pytest.raises(IOError, match="unbucketed"):
        W.delete_keys(spark, t, keys, ("doc",), num_buckets=8)
    assert files() == before
    assert sorted(os.listdir(tmp_path)) == ["flat_t"]


def test_agent_search_on_empty_workspace(spark, tmp_path):
    """VERDICT r4 'wrong' #5: agent_search on a never-synced workspace
    crashed (self.lines() is None); it must return the empty tool-result
    schema like search() does."""
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16)
    out = ws.agent_search("anything")
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "doc", "start", "end", "match_line", "distance", "content"
    ]


def test_stats_survives_deleted_lines_table_with_index_fingerprint(spark, tmp_path, docs):
    """ADVICE r4: delete() of every doc removes the lines table root; a
    leftover ANN-index fingerprint must then read as STALE (exact-cosine),
    not crash stats()/search() with a listing error on the missing path."""
    ws = W.Workspace(spark, str(tmp_path / "ws"), dim=16, n_buckets=2)
    ws.sync(docs, mtime_col="mtime")
    ws.build_ann_index(n_centroids=2)
    assert ws.ann_index_fresh()
    ws.delete([1, 2, 3])
    st = ws.stats()  # must not raise
    assert st["index_type"] == "exact-cosine"
    assert st["total_lines"] == 0
    assert ws.search("alpha").collect() == []


def test_crash_before_pointer_commit_preserves_old_snapshot(spark, tmp_path, docs, monkeypatch):
    """r6 generation-commit protocol: the old `.__old_` move-aside crash
    window is GONE — a mutation killed after staging its new generation
    dirs but BEFORE publishing the pointer leaves readers on the intact
    old snapshot (staged dirs are unreferenced), a fresh open sweeps the
    orphans, and the idempotent re-run converges."""
    import os

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_genptr_crash")
    ws = W.Workspace(spark, root, dim=16, n_buckets=2)
    ws.sync(docs, mtime_col="mtime")
    before_lines = {tuple(r) for r in ws.lines().select("doc", "line_no", "line").collect()}

    real_rename = hfs.rename

    def crash_at_pointer_publish(spark_, src, dst):
        if "/_current." in dst:
            raise RuntimeError("injected kill before pointer commit")
        return real_rename(spark_, src, dst)

    changed = docs.withColumn(
        "text", F.when(F.col("doc_id") == 2, F.lit("edited")).otherwise(F.col("text"))
    )
    monkeypatch.setattr(hfs, "rename", crash_at_pointer_publish)
    with pytest.raises(Exception, match="injected kill"):
        ws.sync(changed, mtime_col="mtime")
    monkeypatch.setattr(hfs, "rename", real_rename)

    # the staged-but-unreferenced generation really is on disk: the
    # touched bucket holds TWO g_ dirs until the sweep
    lines_dir = ws.lines_path
    staged = [
        (b, g)
        for b in os.listdir(lines_dir)
        if b.startswith(W.BUCKET_COL + "=")
        for g in os.listdir(os.path.join(lines_dir, b))
        if g.startswith("g_")
    ]
    assert any(
        sum(1 for bb, _ in staged if bb == b) == 2 for b, _ in staged
    ), staged

    # a reader BEFORE any repair still sees the old consistent snapshot
    # (the pointer was never swapped)
    assert {
        tuple(r)
        for r in W._read_snapshot(spark, lines_dir)
        .select("doc", "line_no", "line")
        .collect()
    } == before_lines

    # a FRESH open sweeps the orphaned generation — nothing lost
    ws2 = W.Workspace(spark, root, dim=16)
    assert {
        tuple(r) for r in ws2.lines().select("doc", "line_no", "line").collect()
    } == before_lines
    for b in os.listdir(lines_dir):
        if b.startswith(W.BUCKET_COL + "="):
            gens = [g for g in os.listdir(os.path.join(lines_dir, b)) if g.startswith("g_")]
            assert len(gens) == 1, (b, gens)

    # and the idempotent re-run converges to the intended state
    ws2.sync(changed, mtime_col="mtime")
    assert [r.line for r in ws2.lines().filter(F.col("doc") == 2).select("line").collect()] == ["edited"]


def test_reader_snapshot_isolation_mid_multi_bucket_commit(spark, tmp_path, monkeypatch):
    """VERDICT r5 next #2 done-criterion: a reader that lists/plans the
    table BETWEEN two bucket swaps of one mutation sees a single
    consistent snapshot (the old one) — never bucket k new + bucket k+1
    old. The mid-commit hook fires after each staged generation rename,
    i.e. exactly inside the window that used to produce mixed tables."""
    t = str(tmp_path / "snapshot_t")
    first = spark.createDataFrame(
        [(i, f"v1-{i}") for i in range(32)], "doc long, payload string"
    )
    W.merge_upsert(spark, t, first, ("doc",), num_buckets=4)
    before = {tuple(r) for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()}
    assert len(before) == 32

    # update EVERY key so the commit stages all 4 buckets
    second = spark.createDataFrame(
        [(i, f"v2-{i}") for i in range(32)], "doc long, payload string"
    )
    mid_reads = []

    def mid_commit_reader(bucket_k):
        got = {
            tuple(r)
            for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()
        }
        mid_reads.append((bucket_k, got))

    monkeypatch.setattr(W, "_TEST_MID_COMMIT_HOOK", mid_commit_reader)
    try:
        W.merge_upsert(spark, t, second, ("doc",), num_buckets=4)
    finally:
        monkeypatch.setattr(W, "_TEST_MID_COMMIT_HOOK", None)

    # the hook fired once per touched bucket
    assert len(mid_reads) == 4, [k for k, _ in mid_reads]
    # EVERY mid-commit read is the complete old snapshot — not a mix
    for k, got in mid_reads:
        assert got == before, f"mid-commit read at bucket {k} saw a mixed table"
    after = {tuple(r) for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()}
    assert after == {(i, f"v2-{i}") for i in range(32)}


def test_generation_commit_crash_swept_at_every_io_boundary(spark, tmp_path, monkeypatch):
    """Exhaustive crash sweep of the v2 commit: kill the MERGE at every
    single hfs rename/write/delete boundary in turn, on an existing
    table (a pointer commit) and on an absent one (the creating MERGE).
    After every kill, a snapshot read must equal EXACTLY the old table
    content (or, for the creation, no table at all) or the new content —
    never a mix, never a loss — and an idempotent re-run must converge
    to the new content, committed under a generation pointer. This is
    the property the generation pointer exists to provide; the sweep
    proves it has no bad window."""
    import os
    import shutil

    t = str(tmp_path / "crash_sweep_t")
    first = spark.createDataFrame(
        [(i, f"v1-{i}") for i in range(24)], "doc long, payload string"
    )
    W.merge_upsert(spark, t, first, ("doc",), num_buckets=4)
    pristine = str(tmp_path / "pristine")
    shutil.copytree(t, pristine)
    old_rows = {(i, f"v1-{i}") for i in range(24)}
    new_rows = {(i, f"v2-{i}") for i in range(24)}

    def upd():
        return spark.createDataFrame(
            [(i, f"v2-{i}") for i in range(24)], "doc long, payload string"
        )

    def reset(start):
        shutil.rmtree(t, ignore_errors=True)
        if start is not None:
            shutil.copytree(start, t)

    ops = _inject_crashes(monkeypatch)

    def read_rows():
        if not os.path.exists(t):
            return None  # no table: the state before a creating MERGE
        return {tuple(r) for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()}

    mixes = []
    # (table before the MERGE, its rows): an update, then the creation
    for start, before in ((pristine, old_rows), (None, None)):
        # dry run: count the IO boundaries of one full commit
        reset(start)
        ops["n"], ops["budget"] = 0, None
        W.merge_upsert(spark, t, upd(), ("doc",), num_buckets=4)
        total_ops = ops["n"]
        assert total_ops > 4, total_ops

        for k in range(total_ops):
            reset(start)
            ops["n"], ops["budget"] = 0, k
            try:
                W.merge_upsert(spark, t, upd(), ("doc",), num_buckets=4)
                crashed = False
            except RuntimeError:
                crashed = True
            ops["budget"] = None
            got = read_rows()
            if got not in (before, new_rows):
                mixes.append((start, k, crashed, got if got is None else sorted(got)[:4]))
                continue
            # recovery: the idempotent re-run converges to the new content
            ops["n"] = 0
            W.merge_upsert(spark, t, upd(), ("doc",), num_buckets=4)
            assert read_rows() == new_rows, f"crash point {k}: re-run did not converge"
            assert W._gen_pointer(spark, t) is not None, (
                f"crash point {k}: re-run left the table without a pointer"
            )
    assert not mixes, f"inconsistent snapshots at crash points: {mixes}"


def test_delete_all_keys_crash_sweep_never_bricks_table(spark, tmp_path, monkeypatch):
    """ADVICE r6 (medium): a delete_keys that empties EVERY bucket
    publishes an empty-gens pointer and then removes the table root; a
    crash between the two used to brick the table (every _read_snapshot
    raises, the idempotent re-run raises the same way, and no sweep
    repaired it). Kill the delete at every IO boundary in turn: after
    each kill the table must read as exactly the old snapshot OR be
    treated as empty/gone — never raise — and an idempotent re-run must
    converge to table-removed."""
    import os
    import shutil

    t = str(tmp_path / "delete_all_t")
    rows = [(i, f"v-{i}") for i in range(24)]
    keys = spark.createDataFrame([(i,) for i in range(24)], "doc long")

    def build():
        shutil.rmtree(t, ignore_errors=True)
        W.merge_upsert(
            spark,
            t,
            spark.createDataFrame(rows, "doc long, payload string"),
            ("doc",),
            num_buckets=4,
        )

    build()
    pristine = str(tmp_path / "delete_all_pristine")
    shutil.copytree(t, pristine)
    old_rows = set(rows)
    ops = _inject_crashes(monkeypatch)

    # dry run: count the IO boundaries of one full delete-everything
    assert W.delete_keys(spark, t, keys, ("doc",), num_buckets=4) == 24
    assert not os.path.exists(t)
    total_ops = ops["n"]
    assert total_ops > 4, total_ops

    def read_state():
        """old snapshot, or 'gone' (missing root / swept-empty) — a
        raise from a plain read is exactly the brick this test pins."""
        if not os.path.exists(t):
            return "gone"
        ptr = W._gen_pointer(spark, t)
        if ptr is not None and not ptr[2]:
            # empty-gens pointer on disk: the committed state is the
            # empty table; the sweep must finish the removal
            W._gen_sweep(spark, t)
            assert not os.path.exists(t), "sweep left an empty-gens pointer"
            return "gone"
        return {
            tuple(r)
            for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()
        }

    bad = []
    for k in range(total_ops):
        shutil.rmtree(t, ignore_errors=True)
        shutil.copytree(pristine, t)
        ops["n"], ops["budget"] = 0, k
        try:
            W.delete_keys(spark, t, keys, ("doc",), num_buckets=4)
        except RuntimeError:
            pass
        ops["budget"] = None
        try:
            got = read_state()
        except IOError as e:
            bad.append((k, f"bricked: {e}"))
            continue
        if got not in (old_rows, "gone"):
            bad.append((k, sorted(got)[:4]))
            continue
        # recovery: the idempotent re-run converges to table-removed
        ops["n"] = 0
        n = W.delete_keys(spark, t, keys, ("doc",), num_buckets=4)
        assert n in (0, 24), (k, n)
        assert not os.path.exists(t), f"crash point {k}: re-run left the table"
    assert not bad, f"delete-all crash points with bad outcomes: {bad}"


def test_snapshot_retention_keeps_old_snapshots_readable(spark, tmp_path):
    """VERDICT r6 wrong #2: with the default retain=0, post-commit GC
    deletes the old generation immediately — a reader mid-scan over it
    can hit deleted files. set_snapshot_retention(N) keeps the last N
    replaced snapshots on disk: a pre-commit resolved DataFrame stays
    collectable AFTER later commits, read_snapshot(seq=...) time-travels,
    and expiry prunes exactly the snapshots past the window."""
    t = str(tmp_path / "retain_t")

    def upd(tag):
        return spark.createDataFrame(
            [(i, f"{tag}-{i}") for i in range(16)], "doc long, payload string"
        )

    W.merge_upsert(spark, t, upd("v1"), ("doc",), num_buckets=4)
    W.set_snapshot_retention(spark, t, 2)
    assert W._gen_retain(spark, t) == 2

    # resolve a snapshot BEFORE further commits — this is the
    # long-running reader whose files retain=0 would delete under it
    reader = W._read_snapshot(spark, t)
    seq_v1 = W._gen_pointer(spark, t)[0]

    W.merge_upsert(spark, t, upd("v2"), ("doc",), num_buckets=4)
    W.merge_upsert(spark, t, upd("v3"), ("doc",), num_buckets=4)

    # the stale resolved plan still scans successfully (files retained)
    got = {tuple(r) for r in reader.drop(W.BUCKET_COL).collect()}
    assert got == {(i, f"v1-{i}") for i in range(16)}

    # time travel across the window; the current read is the newest
    cur_seq = W._gen_pointer(spark, t)[0]
    assert {
        tuple(r)
        for r in W.read_snapshot(spark, t, seq=seq_v1).drop(W.BUCKET_COL).collect()
    } == {(i, f"v1-{i}") for i in range(16)}
    assert {
        tuple(r) for r in W.read_snapshot(spark, t).drop(W.BUCKET_COL).collect()
    } == {(i, f"v3-{i}") for i in range(16)}

    # one more commit pushes v1 past retain=2: its pointer + generations
    # are pruned by the commit itself, v2/v3/v4 stay
    W.merge_upsert(spark, t, upd("v4"), ("doc",), num_buckets=4)
    with pytest.raises(IOError):
        W.read_snapshot(spark, t, seq=seq_v1)
    assert len(W._pointer_seqs(spark, t)) == 3
    assert {
        tuple(r)
        for r in W.read_snapshot(spark, t, seq=cur_seq).drop(W.BUCKET_COL).collect()
    } == {(i, f"v3-{i}") for i in range(16)}

    # open-time repair (the crash-GC path) must NOT collect retained
    # snapshots either
    W._sweep_stale_swap_dirs(spark, t)
    assert len(W._pointer_seqs(spark, t)) == 3
    assert {
        tuple(r)
        for r in W.read_snapshot(spark, t, seq=cur_seq).drop(W.BUCKET_COL).collect()
    } == {(i, f"v3-{i}") for i in range(16)}

    # dropping retention back to 0 expires everything but the head
    W.set_snapshot_retention(spark, t, 0)
    assert len(W._pointer_seqs(spark, t)) == 1
    # exactly one generation per bucket remains on disk (raw-root
    # readability restored)
    import os

    for b in os.listdir(t):
        if b.startswith(W.BUCKET_COL + "="):
            gens = [g for g in os.listdir(os.path.join(t, b)) if g.startswith("g_")]
            assert len(gens) == 1, (b, gens)
    assert {
        tuple(r) for r in W._read_snapshot(spark, t).drop(W.BUCKET_COL).collect()
    } == {(i, f"v4-{i}") for i in range(16)}


def test_expire_snapshots_bounded_and_delete_all_stays_terminal(spark, tmp_path):
    """expire_snapshots prunes only past-window snapshots (explicit
    keep_last override), and a delete of EVERY key stays terminal under
    retention — DROP is not snapshotted, the root is removed."""
    t = str(tmp_path / "retain_drop_t")

    def upd(tag):
        return spark.createDataFrame(
            [(i, f"{tag}-{i}") for i in range(8)], "doc long, payload string"
        )

    W.merge_upsert(spark, t, upd("a"), ("doc",), num_buckets=2)
    W.set_snapshot_retention(spark, t, 3)
    for tag in ("b", "c", "d"):
        W.merge_upsert(spark, t, upd(tag), ("doc",), num_buckets=2)
    assert len(W._pointer_seqs(spark, t)) == 4
    # explicit expiry tighter than the property wins
    assert W.expire_snapshots(spark, t, keep_last=2) > 0
    assert len(W._pointer_seqs(spark, t)) == 2

    keys = spark.createDataFrame([(i,) for i in range(8)], "doc long")
    assert W.delete_keys(spark, t, keys, ("doc",), num_buckets=2) == 8
    import os

    assert not os.path.exists(t)


def test_workspace_snapshot_pins_lines_manifest_pairing(spark, tmp_path, docs, monkeypatch):
    """VERDICT r6 missing #4: one sync commits lines THEN manifest — a
    reader between the two used to pair the NEW lines snapshot with the
    OLD manifest (each internally consistent, jointly one mutation
    apart). The workspace-level snapshot (_wsnap pointer naming both
    tables' generations, published once at mutation end) closes it:
    a fresh reader between the two table commits sees the complete OLD
    pairing; a crash there leaves readers on the old pairing and the
    idempotent re-run converges."""
    root = str(tmp_path / "ws_pair")
    ws = W.Workspace(spark, root, dim=16)
    ws.sync(docs, mtime_col="mtime")

    def lines_set(w):
        df = w.lines()
        return (
            frozenset((r.doc, r.line_no, r.line) for r in df.collect())
            if df is not None
            else None
        )

    def man_set(w):
        df = w.manifest()
        return (
            frozenset((r.doc, r.size_bytes, r.mtime) for r in df.collect())
            if df is not None
            else None
        )

    old_pair = (lines_set(ws), man_set(ws))
    stale_lines = ws.lines()  # resolved pre-mutation: must stay scannable

    docs_v2 = spark.createDataFrame(
        [
            (1, "alpha beta gamma\nsecond line here", 100),
            (2, "delta epsilon zeta REWRITTEN", 200),
            (3, "eta theta iota kappa", 100),
        ],
        "doc_id long, text string, mtime long",
    )

    observed = []
    real_merge = W.merge_upsert

    def spying_merge(spark_, table_path, *a, **kw):
        out = real_merge(spark_, table_path, *a, **kw)
        if table_path == ws.lines_path:
            # EXACTLY the window the r6 VERDICT documented: lines
            # committed, manifest not yet. A fresh reader must see the
            # old consistent pairing, not new-lines + old-manifest.
            r = W.Workspace(spark_, root)
            observed.append((lines_set(r), man_set(r)))
        return out

    monkeypatch.setattr(W, "merge_upsert", spying_merge)
    try:
        ws.sync(docs_v2, mtime_col="mtime")
    finally:
        monkeypatch.setattr(W, "merge_upsert", real_merge)

    assert observed, "the lines merge never ran"
    for pair in observed:
        assert pair == old_pair, "mid-mutation reader saw a mixed pairing"

    # after the mutation the new pairing is visible and consistent
    after = W.Workspace(spark, root)
    new_lines, new_man = lines_set(after), man_set(after)
    assert new_lines != old_pair[0] and new_man != old_pair[1]
    assert any("REWRITTEN" in ln for _, _, ln in new_lines)
    assert (2, 28, 200) in new_man

    # the pre-mutation resolved DataFrame still scans (retention >= 1
    # is raised automatically on workspace tables)
    assert frozenset(
        (r.doc, r.line_no, r.line) for r in stale_lines.collect()
    ) == old_pair[0]

    # crash BETWEEN the two commits: readers stay on the old (now v2)
    # pairing; the idempotent re-run converges
    docs_v3 = spark.createDataFrame(
        [
            (1, "alpha beta gamma\nsecond line here", 100),
            (2, "delta epsilon zeta REWRITTEN", 200),
            (3, "eta theta iota kappa CHANGED AGAIN", 300),
        ],
        "doc_id long, text string, mtime long",
    )

    def crashing_merge(spark_, table_path, *a, **kw):
        out = real_merge(spark_, table_path, *a, **kw)
        if table_path == ws.lines_path:
            raise RuntimeError("injected crash between table commits")
        return out

    monkeypatch.setattr(W, "merge_upsert", crashing_merge)
    try:
        with pytest.raises(RuntimeError):
            after.sync(docs_v3, mtime_col="mtime")
    finally:
        monkeypatch.setattr(W, "merge_upsert", real_merge)

    mid = W.Workspace(spark, root)
    assert (lines_set(mid), man_set(mid)) == (new_lines, new_man)
    mid.sync(docs_v3, mtime_col="mtime")
    done = W.Workspace(spark, root)
    assert any("CHANGED AGAIN" in ln for _, _, ln in lines_set(done))
    assert (3, 34, 300) in man_set(done)


def test_workspace_mutation_crash_sweep_pairs_tables(spark, tmp_path, monkeypatch):
    """Exhaustive crash sweep of a full workspace mutation (sync touching
    BOTH tables): kill at every hfs rename/write/delete boundary in
    turn. After every kill a fresh reader must see the complete OLD
    pairing or the complete NEW pairing of (lines, manifest) — never a
    cross-table mix — and the idempotent re-run must converge. This is
    the workspace-snapshot analog of the per-table generation-commit
    sweep above.

    Lease/heartbeat IO is exempt from injection: a real crash leaves the
    lease held and recovery then goes through TTL expiry / tombstone
    reclaim, which has its own tests — this sweep certifies TABLE state,
    so it lets the lease release succeed to keep each iteration
    independent."""
    import shutil

    root = str(tmp_path / "ws_sweep_pair")
    docs_v1 = spark.createDataFrame(
        [(i, f"alpha v1 doc {i}\nsecond line {i}", 100 + i) for i in range(6)],
        "doc_id long, text string, mtime long",
    )
    docs_v2 = spark.createDataFrame(
        [(i, f"beta v2 doc {i}", 200 + i) for i in range(6)],
        "doc_id long, text string, mtime long",
    )
    W.Workspace(spark, root, dim=8, n_buckets=2).sync(docs_v1, mtime_col="mtime")
    pristine = str(tmp_path / "ws_sweep_pair_pristine")
    shutil.copytree(root, pristine)

    def pairing():
        r = W.Workspace(spark, root, dim=8, n_buckets=2)
        lines = frozenset(
            (x.doc, x.line_no, x.line) for x in r.lines().collect()
        )
        man = frozenset((x.doc, x.mtime) for x in r.manifest().collect())
        return lines, man

    old_pair = pairing()

    def _lease_io(args) -> bool:
        return any(
            isinstance(a, str) and ("_writer." in a) for a in args
        )

    ops = _inject_crashes(monkeypatch, exempt=_lease_io)

    # dry run: count the countable IO boundaries of one full mutation
    W.Workspace(spark, root, dim=8, n_buckets=2).sync(docs_v2, mtime_col="mtime")
    total_ops = ops["n"]
    assert total_ops > 6, total_ops
    new_pair = pairing()
    assert new_pair != old_pair

    mixes = []
    for k in range(total_ops):
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(pristine, root)
        ops["n"], ops["budget"] = 0, k
        try:
            W.Workspace(spark, root, dim=8, n_buckets=2).sync(
                docs_v2, mtime_col="mtime"
            )
            crashed = False
        except RuntimeError:
            crashed = True
        ops["budget"] = None
        got = pairing()
        if got not in (old_pair, new_pair):
            mix_kind = (
                "cross-table mix"
                if (got[0] in (old_pair[0], new_pair[0]))
                != (got[1] in (old_pair[1], new_pair[1]))
                or (got[0] == old_pair[0]) != (got[1] == old_pair[1])
                else "corrupt table"
            )
            mixes.append((k, crashed, mix_kind))
            continue
        ops["n"] = 0
        W.Workspace(spark, root, dim=8, n_buckets=2).sync(docs_v2, mtime_col="mtime")
        assert pairing() == new_pair, f"crash point {k}: re-run did not converge"
    assert not mixes, f"inconsistent pairings at crash points: {mixes}"


def test_first_sync_crash_at_lines_pointer_publish_converges(spark, tmp_path, monkeypatch):
    """A first sync killed at the lines table's first pointer publish,
    then re-run, must leave the workspace as a clean first sync does:
    same lines, line count and search hits. A table left on disk
    without its pointer would be pinned as absent by the workspace
    snapshot, hiding every line while the manifest lists every doc."""
    from semtools_spark import fs as hfs

    docs = spark.createDataFrame(
        [(i, f"alpha v1 doc {i}\nsecond line {i}", 100 + i) for i in range(6)],
        "doc_id long, text string, mtime long",
    )

    def state(w):
        lines = w.lines()
        return (
            None if lines is None
            else sorted(tuple(r) for r in lines.select("doc", "line_no", "line").collect()),
            w.stats()["total_lines"],
            [tuple(r) for r in w.search("alpha v1 doc 3", top_k=3).collect()],
        )

    clean = W.Workspace(spark, str(tmp_path / "ws_first_clean"), dim=8, n_buckets=2)
    clean.sync(docs, mtime_col="mtime")

    ws = W.Workspace(spark, str(tmp_path / "ws_first_crash"), dim=8, n_buckets=2)
    real_rename = hfs.rename

    def crash_at_first_lines_pointer(spark_, src, dst):
        if "line_embeddings.parquet" in dst and dst.endswith(
            f"/{W._POINTER_PREFIX}0.json"
        ):
            raise RuntimeError("injected crash at the first pointer publish")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(hfs, "rename", crash_at_first_lines_pointer)
    with pytest.raises(RuntimeError, match="injected crash"):
        ws.sync(docs, mtime_col="mtime")
    monkeypatch.setattr(hfs, "rename", real_rename)

    assert ws.sync(docs, mtime_col="mtime") == {"new": 6}
    assert state(ws) == state(clean)


def test_stale_lease_reclaim_is_atomic_tombstone(spark, tmp_path, docs, monkeypatch):
    """ADVICE r5 (medium): reclaiming a stale lease renames it to a
    tombstone — of N racers exactly one rename succeeds; a loser raises
    ConcurrentWriterError instead of deleting the winner's fresh lease."""
    import json
    import time

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_tomb")
    ws = W.Workspace(spark, root, dim=16)
    lease = f"{root}/{W.Workspace.LEASE_FILE}"
    hfs.write_text(spark, lease, json.dumps(
        {"host": "dead", "pid": 1,
         "ts": time.time() - 10 * W.DEFAULT_LEASE_TTL_SEC, "token": "foreign"}
    ))

    # simulate losing the tombstone race: the rename of the stale lease
    # fails because another reclaimer moved it first
    real_rename = hfs.rename

    def lose_race(spark_, src, dst):
        if ".tomb_" in dst:
            return False
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(hfs, "rename", lose_race)
    with pytest.raises(W.ConcurrentWriterError, match="reclaim race"):
        ws.sync(docs, mtime_col="mtime")
    monkeypatch.setattr(hfs, "rename", real_rename)
    # the stale lease file was NOT deleted by the loser
    assert hfs.read_text(spark, lease) is not None

    # winning the race proceeds normally
    counts = ws.sync(docs, mtime_col="mtime")
    assert counts == {"new": 3}


def test_heartbeat_keeps_long_mutation_lease_live(spark, tmp_path, docs):
    """ADVICE r5 (medium): a mutation whose Spark jobs outlive
    lease_ttl_sec stays live through heartbeats — liveness is judged on
    max(claim ts, heartbeat ts), so a second writer must NOT reclaim."""
    import json
    import time

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_hb")
    ws = W.Workspace(spark, root, dim=16, lease_ttl_sec=2)
    with ws._lease():
        time.sleep(2.1)  # claim stamp is now older than the TTL
        ws._heartbeat()  # ...but the mutation is still alive
        # a second writer sees an expired claim ts but a fresh heartbeat
        ws2 = W.Workspace(spark, root)
        assert ws2._foreign_lease_live()
        with pytest.raises(W.ConcurrentWriterError):
            with ws2._lease():
                pass
        # exactly one heartbeat file is retained per renewal
        hb = [n for n, _s, d in hfs.listdir(spark, root)
              if not d and n.startswith(W.Workspace.HB_PREFIX)]
        assert len(hb) == 1
    # release drops the lease AND its heartbeats
    assert hfs.read_text(spark, f"{root}/{W.Workspace.LEASE_FILE}") is None
    hb = [n for n, _s, d in hfs.listdir(spark, root)
          if not d and n.startswith(W.Workspace.HB_PREFIX)]
    assert hb == []


def test_merge_upsert_rejects_non_prefix_replace_cols(spark, tmp_path):
    """ADVICE r5 (low): replace_cols that is not a prefix of key_cols
    would evict rows across the wrong buckets — must raise, not corrupt."""
    t = str(tmp_path / "t_guard")
    upd = spark.createDataFrame([(1, 0, "x")], "doc long, line_no long, v string")
    with pytest.raises(ValueError, match="prefix of key_cols"):
        W.merge_upsert(
            spark, t, upd, ("doc", "line_no"), num_buckets=4,
            replace_cols=("line_no",),
        )


def test_create_exclusive_propagates_infrastructure_errors(spark, tmp_path):
    """ADVICE r5 (low): only the already-exists outcome returns False;
    an IO fault (here: an unwritable kernel filesystem, which surfaces a
    java.io.FileNotFoundException, not FileAlreadyExists) must propagate
    instead of masquerading as a lost lease race."""
    from semtools_spark import fs as hfs

    blocker = str(tmp_path / "blocker")
    with open(blocker, "w") as f:
        f.write("x")
    # already-exists → False (the race-loss signal)
    assert hfs.create_exclusive(spark, blocker, "y") is False
    # unwritable filesystem → raises (infrastructure fault, not a race)
    with pytest.raises(Exception):
        hfs.create_exclusive(spark, "/proc/semtools_lease_probe", "y")


def test_config_rewritten_outside_hadoop_names_stale_crc(spark, tmp_path):
    """A workspace.json rewritten with plain open() no longer matches the
    .workspace.json.crc sidecar the local filesystem checks reads
    against. With checksum verification left on, opening the workspace
    must raise an IOError naming the file and the stale sidecar, not a
    bare py4j error."""
    import json
    import os

    root = str(tmp_path / "ws_crc")
    W.Workspace(spark, root, dim=16)
    cfg_file = os.path.join(root, W.Workspace.CONFIG_FILE)
    with open(cfg_file) as fh:
        cfg = json.load(fh)
    with open(cfg_file, "w") as fh:
        json.dump(cfg, fh, indent=2)
    with pytest.raises(IOError, match=r"workspace\.json .*\.workspace\.json\.crc"):
        W.Workspace(spark, root)


def test_delete_with_keys_derived_from_workspace_tables(spark, tmp_path, docs):
    """A keys DataFrame built from the workspace's own manifest (the
    natural distributed-caller pattern) must survive the manifest delete
    swapping the files its scan snapshot-listed — the keys are
    materialized before mutation, so the lines delete does not lazily
    re-read vanished manifest files."""
    ws = W.Workspace(spark, str(tmp_path / "ws_selfkeys"), dim=16, n_buckets=2)
    ws.sync(docs, mtime_col="mtime")
    keys = ws.manifest().filter(F.col("doc") == 2).select("doc")
    out = ws.delete(keys, id_col="doc")
    assert out["docs"] == 1 and out["lines"] >= 1
    assert ws.stats()["total_documents"] == 2
    assert ws.lines().filter(F.col("doc") == 2).count() == 0


def test_open_time_repair_skipped_under_live_foreign_lease(spark, tmp_path, docs):
    """Open-time repair must not sweep a LIVE writer's in-flight commit:
    a reader opening mid-commit (the writer's .__intent_ file and one
    staged g_ generation on disk, live foreign lease present) leaves
    both alone and does not raise; once the lease goes stale (the
    writer actually crashed), the next open sweeps them as usual."""
    import json
    import os
    import shutil
    import time

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_liveswap")
    ws = W.Workspace(spark, root, dim=16, n_buckets=2)
    ws.sync(docs, mtime_col="mtime")
    before = {tuple(r) for r in ws.lines().select("doc", "line_no", "line").collect()}

    # simulate a writer mid-commit exactly as _swap_buckets stages one:
    # intent written, a new generation staged beside the current one,
    # the pointer not yet published
    k = W._bucket_ids(spark, ws.lines_path)[0]
    frag = f"{W.BUCKET_COL}={k}"
    run = "0" * 12
    current = W._gen_pointer(spark, ws.lines_path)[2][str(k)]
    staged = f"{ws.lines_path}/{frag}/g_{run}"
    shutil.copytree(os.path.join(ws.lines_path, frag, current), staged)
    intent = W._write_intent(spark, ws.lines_path, run, W.BUCKET_COL, [frag])
    lease = f"{root}/{W.Workspace.LEASE_FILE}"
    hfs.write_text(spark, lease, json.dumps(
        {"host": "other", "pid": 1, "ts": time.time(), "token": "foreign"}
    ))

    W.Workspace(spark, root)  # live lease: no repair, no raise
    assert hfs.exists(spark, staged) and hfs.exists(spark, intent)

    # the lease expires (writer really is dead): next open sweeps
    hfs.delete(spark, lease)
    hfs.write_text(spark, lease, json.dumps(
        {"host": "other", "pid": 1,
         "ts": time.time() - 10 * W.DEFAULT_LEASE_TTL_SEC, "token": "foreign"}
    ))
    ws3 = W.Workspace(spark, root)
    assert {
        tuple(r) for r in ws3.lines().select("doc", "line_no", "line").collect()
    } == before
    assert not hfs.exists(spark, staged) and not hfs.exists(spark, intent)


def test_writer_lease_blocks_live_writer_reclaims_stale(spark, tmp_path, docs):
    """VERDICT r4 next #7: the single-writer assumption is enforced — a
    live foreign lease makes mutations raise ConcurrentWriterError; a
    stale lease (crashed writer) is reclaimed and the mutation proceeds."""
    import json
    import time

    from semtools_spark import fs as hfs

    root = str(tmp_path / "ws_lease")
    ws = W.Workspace(spark, root, dim=16)
    lease = f"{root}/{W.Workspace.LEASE_FILE}"

    hfs.write_text(spark, lease, json.dumps(
        {"host": "other", "pid": 1, "ts": time.time(), "token": "foreign"}
    ))
    with pytest.raises(W.ConcurrentWriterError, match="other"):
        ws.sync(docs, mtime_col="mtime")

    hfs.delete(spark, lease)
    hfs.write_text(spark, lease, json.dumps(
        {"host": "other", "pid": 1, "ts": time.time() - 10 * W.DEFAULT_LEASE_TTL_SEC,
         "token": "foreign"}
    ))
    counts = ws.sync(docs, mtime_col="mtime")  # stale lease reclaimed
    assert counts == {"new": 3}
    # lease released after the mutation
    assert hfs.read_text(spark, lease) is None


def test_rebucket_migration_preserves_data_and_merge(spark, tmp_path, docs):
    """VERDICT r4 next #6: rebucket(n) migrates both tables to a new
    bucket count; data identical, config updated, a reopened workspace
    sees the new count, and W3 MERGE afterwards still dedups keys."""
    root = str(tmp_path / "ws_rebucket")
    ws = W.Workspace(spark, root, dim=16, n_buckets=2)
    ws.sync(docs, mtime_col="mtime")
    before = {tuple(r) for r in ws.lines().select("doc", "line_no", "line").collect()}

    ws.rebucket(8)
    assert ws.n_buckets == 8
    assert set(W._bucket_ids(spark, ws.lines_path)) <= set(range(8))
    assert {tuple(r) for r in ws.lines().select("doc", "line_no", "line").collect()} == before

    ws2 = W.Workspace(spark, root)  # fresh open reads config
    assert ws2.n_buckets == 8
    changed = docs.withColumn(
        "text", F.when(F.col("doc_id") == 1, F.lit("post-rebucket")).otherwise(F.col("text"))
    )
    ws2.sync(changed, mtime_col="mtime")
    assert ws2.stats()["total_documents"] == 3  # no duplicate keys
    got = [r.line for r in ws2.lines().filter(F.col("doc") == 1).select("line").collect()]
    assert got == ["post-rebucket"]


def test_rebucket_crash_is_finished_on_next_open(spark, tmp_path, docs, monkeypatch):
    """A crash mid-rebucket leaves the intent journal; the next open must
    finish the migration (config count == journal count, same rows,
    every row in its new bucket) — otherwise MERGE computes touched
    buckets under the wrong modulus and keys stop deduplicating. Three
    crash points: before any rewrite, after the lines commit but before
    the manifest commit, and after both commits but before the config
    is saved."""
    import json

    from semtools_spark import fs as hfs

    real_swap = W._swap_buckets

    def crash_after_lines_commit(spark_, table_path, *a, **kw):
        real_swap(spark_, table_path, *a, **kw)
        if table_path.endswith("line_embeddings.parquet"):
            raise RuntimeError("injected crash after the lines commit")

    def crash_before_config_save(self):
        raise RuntimeError("injected crash before the config save")

    def rows(w):
        return (
            {tuple(r) for r in w.lines().select("doc", "line_no", "line").collect()},
            {tuple(r) for r in w.manifest().collect()},
        )

    for case in ("before_rewrite", "after_lines_commit", "before_config_save"):
        root = str(tmp_path / f"ws_rbcrash_{case}")
        ws = W.Workspace(spark, root, dim=16, n_buckets=2)
        ws.sync(docs, mtime_col="mtime")
        before = rows(ws)
        if case == "before_rewrite":
            # simulate: journal written, then crash before any rewrite
            hfs.write_text(
                spark, f"{root}/{W.Workspace.REBUCKET_FILE}",
                json.dumps({"n_buckets": 4}),
            )
        else:
            with monkeypatch.context() as m:
                if case == "after_lines_commit":
                    m.setattr(W, "_swap_buckets", crash_after_lines_commit)
                else:
                    m.setattr(W.Workspace, "_save_config", crash_before_config_save)
                with pytest.raises(RuntimeError, match="injected crash"):
                    ws.rebucket(4)
        ws2 = W.Workspace(spark, root)
        assert ws2.n_buckets == 4, case
        assert hfs.read_text(spark, f"{root}/{W.Workspace.REBUCKET_FILE}") is None
        assert ws2.stats() ["total_lines"] == 4
        assert rows(ws2) == before, case
        for path in (ws2.lines_path, ws2.manifest_path):
            misplaced = W._read_snapshot(spark, path).filter(
                F.col(W.BUCKET_COL) != F.pmod(F.xxhash64("doc"), F.lit(4))
            )
            assert misplaced.count() == 0, (case, path)


def test_buckets_for_bytes_formula(spark, tmp_path):
    assert W.buckets_for_bytes(1) == 1
    assert W.buckets_for_bytes(W.TARGET_BUCKET_BYTES) == 1
    assert W.buckets_for_bytes(10 * W.TARGET_BUCKET_BYTES) == 16  # next pow2
    assert W.buckets_for_bytes(100 * 10**12) == 1 << 19  # 100 TB
    ws = W.Workspace(
        spark, str(tmp_path / "ws_sized"), dim=16,
        expected_table_bytes=10 * W.TARGET_BUCKET_BYTES,
    )
    assert ws.n_buckets == 16


def test_sync_shrunk_doc_replaces_all_lines(spark, tmp_path, docs):
    """Found while testing rebucket: a changed doc that SHRINKS (3 lines
    -> 1) must not keep its stale tail lines — the MERGE replace scope is
    the doc, not the (doc, line_no) key (store.rs:373-434 replaces a
    document's points wholesale)."""
    ws = W.Workspace(spark, str(tmp_path / "ws_shrink"), dim=16)
    ws.sync(docs, mtime_col="mtime")
    assert ws.lines().filter(F.col("doc") == 1).count() == 2
    shrunk = docs.withColumn(
        "text", F.when(F.col("doc_id") == 1, F.lit("only line")).otherwise(F.col("text"))
    )
    ws.sync(shrunk, mtime_col="mtime")
    got = [r.line for r in ws.lines().filter(F.col("doc") == 1).collect()]
    assert got == ["only line"]


def test_ann_index_incremental_delta_byte_identity(spark, tmp_path):
    """VERDICT r4 next #4 done-criterion: build index → sync a delta →
    index still fresh, UNTOUCHED centroid partitions byte-identical on
    disk, the changed doc's old line evicted and its new line searchable
    through the index (use_index=True)."""
    import hashlib
    import os

    root = str(tmp_path / "ws_anndelta")
    ws = W.Workspace(spark, root, dim=16, n_buckets=4)
    docs = spark.createDataFrame(
        [(i, f"text body number {i}", i) for i in range(40)],
        ["doc_id", "text", "mtime"],
    )
    ws.sync(docs, mtime_col="mtime")
    ws.build_ann_index(n_centroids=8)

    def part_state(idx_root):
        out = {}
        for d in sorted(os.listdir(idx_root)):
            if d.startswith("centroid_id="):
                h = hashlib.md5()
                base = os.path.join(idx_root, d)
                for dirpath, dirs, files in os.walk(base):
                    dirs.sort()
                    for f in sorted(files):
                        path = os.path.join(dirpath, f)
                        h.update(os.path.relpath(path, base).encode())
                        with open(path, "rb") as fh:
                            h.update(fh.read())
                out[d] = h.hexdigest()
        return out

    before = part_state(ws.ann_index_path)
    assert len(before) >= 3, "need several inverted lists for the test to bite"

    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 7, F.lit("changed payload seven"))
        .otherwise(F.col("text")),
    ).withColumn(
        "mtime",
        F.when(F.col("doc_id") == 7, F.lit(1000)).otherwise(F.col("mtime")),
    )
    counts = ws.sync(changed, mtime_col="mtime")
    assert counts.get("changed") == 1

    assert ws.ann_index_fresh()
    after = part_state(ws.ann_index_path)
    diff = {k for k in set(before) | set(after) if before.get(k) != after.get(k)}
    # at most the old line's list and the new line's list were rewritten
    assert len(diff) <= 2
    assert len(set(before) | set(after)) - len(diff) >= 1, "no untouched partition left"

    idx = spark.read.parquet(ws.ann_index_path)
    got = [r.line for r in idx.filter(F.col("doc") == 7).select("line").collect()]
    assert got == ["changed payload seven"]  # old line evicted, new present

    hit = ws.search("changed payload seven", top_k=1, use_index=True, nprobe=8).first()
    assert ws.last_search_index_type == "ivf-indexed"
    assert hit.doc == 7


def test_ann_index_maintained_through_delete_and_prune(spark, tmp_path):
    """delete/prune evict the removed docs' lines from their inverted
    lists (touched partitions only) and keep the index fresh; deleting
    EVERY doc drops the index outright instead of leaving a crashing
    fingerprint."""
    root = str(tmp_path / "ws_anndel")
    ws = W.Workspace(spark, root, dim=16, n_buckets=4)
    docs = spark.createDataFrame(
        [(i, f"text body number {i}", i) for i in range(30)],
        ["doc_id", "text", "mtime"],
    )
    ws.sync(docs, mtime_col="mtime")
    ws.build_ann_index(n_centroids=8)

    ws.delete([3, 4])
    assert ws.ann_index_fresh()
    idx = spark.read.parquet(ws.ann_index_path)
    assert idx.filter(F.col("doc").isin([3, 4])).count() == 0
    # index content == table content (eviction exact, nothing else lost)
    assert idx.count() == ws.stats()["total_lines"]

    pruned = ws.prune(docs.filter(F.col("doc_id") >= 20))
    assert pruned["docs"] == 18  # 30 - 2 deleted - 10 surviving (20..29)
    assert ws.ann_index_fresh()
    idx2 = spark.read.parquet(ws.ann_index_path)
    assert idx2.count() == ws.stats()["total_lines"]
    assert idx2.filter(F.col("doc") < 20).count() == 0

    # delete-all: lines table root disappears; the index must go WITH it
    ws.delete(list(range(20, 30)))
    assert not ws.ann_index_fresh()
    from semtools_spark import fs as hfs

    assert not hfs.exists(spark, ws.ann_index_path)
    assert ws.stats()["index_type"] == "exact-cosine"
