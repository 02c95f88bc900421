"""The three workloads. Each one generates its inputs from the seed,
warms up, then runs whole rounds of a main and an incremental operation
under ``harness.Loop`` and checks every output with ``checks``.

Warm-up operations run the same code paths as the timed ones, on small
inputs and concurrently, so that the one-off costs of a fresh session
(class loading, code generation, JIT, Python worker start) are paid in
set-up. Sizes are fixed here; README.md says why each one was chosen.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import fresh_dir, median, pctl

DIM, EMB_SEED = 64, 42  # the engine's link / workspace embedding settings

#: incremental ops per round in kg_build and entity_resolve: the cheap op
#: gets more than one sample per run, so one slow sample moves its median
#: by half
UPDATES_PER_ROUND = 2


def _read(path: str, columns=None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


class Workload:
    name = ""
    main_kind = update_kind = ""
    extra_layers: dict = {}  # layer metrics beyond run.PER_LAYER: name -> unit

    def __init__(self, spark, loop, work: str, seed: int):
        self.spark, self.loop, self.work, self.seed = spark, loop, work, seed
        self.rng = np.random.default_rng([seed, 7])
        self.errors: list[str] = []
        self.items = 0

    def check(self, fn, out, *ref) -> None:
        """Run one output check; ``out`` is the output under test."""
        self.errors.extend(fn(out, *ref))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        """Generate inputs and initial state."""

    def warmup(self) -> list:
        """Zero-argument callables, run concurrently after ``setup``."""
        return []

    def round(self, rnd: int) -> None:
        raise NotImplementedError

    def metrics(self) -> dict:
        """End-to-end metrics of the timed phase (the caller adds
        ``setup_s``). The timed phase is the time inside counted
        operations, so input generation and checks do not dilute it."""
        lat = self.loop.lat_ms
        return {
            "items_per_s": self.items / self.loop.op_s if self.loop.op_s else 0.0,
            "op_p50_ms": median(lat[self.main_kind]),
            "update_p50_ms": median(lat[self.update_kind]),
        }

    def layers(self) -> dict:
        """Per-layer metrics: the median per operation of each value the
        loop collected."""
        return {k: median(v) for k, v in self.loop.layer.items()}


# ---- kg_build ---------------------------------------------------------------


PAGE_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


class KgBuild(Workload):
    """Batch web-KG pipeline over a fresh corpus; incremental op lands one
    page file and runs streaming ingest plus a graph refresh."""

    name = "kg_build"
    main_kind, update_kind = "pipeline", "ingest_refresh"
    N_PAGES = 8_000
    N_FILES = 8  # corpus files, so the parse scan runs as several tasks
    FILE_PAGES = 500
    WARM_PAGES = 1_000
    WARM_ID0 = 1 << 30  # warm-up page ids, disjoint from the corpus

    def setup(self) -> None:
        from semtools_spark.operators.kg import ENTITIES, RELATIONS

        self.ent, self.rel, self.ent_set = ENTITIES, frozenset(RELATIONS), frozenset(ENTITIES)
        self.pages = fresh_dir(self.path("pages"))
        self.text = {}
        step = self.N_PAGES // self.N_FILES
        for k in range(self.N_FILES):
            part = os.path.join(self.pages, f"part-{k:05d}.parquet")
            self.text.update(self._write_pages(k * step, (k + 1) * step, part))
        self.triples = self._scan(self.text)
        self.mentions = self._mentions(self.triples)
        self.graph = checks.expected_graph(self.triples, self.ent)
        self.landing = fresh_dir(self.path("landing"))
        self.ingest_out = self.path("ingest_out")
        self.landed = Counter()
        self.n_files = 0
        self.warm_pages = self.path("warm_pages.parquet")
        self._write_pages(self.WARM_ID0, self.WARM_ID0 + self.WARM_PAGES, self.warm_pages)

    def warmup(self) -> list:
        from semtools_spark.pipeline import run_webkg_pipeline

        self.landed += self._scan(self._land())
        return [
            lambda: run_webkg_pipeline(self.spark, self.warm_pages, self.path("warm_out")),
            self._ingest_refresh,
        ]

    def _write_pages(self, lo: int, hi: int, path: str) -> dict:
        """Pages ``lo..hi-1`` of the seeded web_pages corpus, written as one
        parquet file; returns url -> generator text."""
        from semtools_spark.sources.web_pages import make_page

        rows = [make_page(i, self.seed) for i in range(lo, hi)]
        pq.write_table(pa.Table.from_pylist(rows, schema=PAGE_SCHEMA), path)
        return {r["url"]: r["text"] for r in rows}

    def _land(self) -> dict:
        """Write the next page file beside the landing dir, then move it
        in, so the stream never sees a partial file."""
        lo = self.N_PAGES + self.n_files * self.FILE_PAGES
        tmp = self.path(f"staged_{self.n_files:05d}.parquet")
        text = self._write_pages(lo, lo + self.FILE_PAGES, tmp)
        os.rename(tmp, os.path.join(self.landing, f"part-{self.n_files:05d}.parquet"))
        self.n_files += 1
        return text

    def _scan(self, text: dict) -> Counter:
        return Counter(
            t for u, s in text.items() for t in checks.scan_triples(u, s, self.ent_set, self.rel)
        )

    @staticmethod
    def _mentions(triples: Counter) -> set:
        return {t[2] for t in triples} | {t[4] for t in triples}

    @staticmethod
    def _stage_of(group):
        if group and group.startswith("semtools-stage-"):
            return group.split("-")[2]
        return "driver"

    def round(self, rnd: int) -> None:
        self._pipeline(rnd)
        for _ in range(UPDATES_PER_ROUND):
            self._ingest()

    def _pipeline(self, rnd: int) -> None:
        from semtools_spark.pipeline import STAGES, run_webkg_pipeline

        out = self.path(f"pipeline_{rnd}")
        rep, ms, roll = self.loop.call(
            "pipeline", lambda: run_webkg_pipeline(self.spark, self.pages, out),
            group_of=self._stage_of,
        )
        if rep is None:
            return
        self.items += self.N_PAGES
        p = rep["paths"]
        self.check(checks.check_parse, _read(p["parse"], ["url", "text"]), self.text)
        self.check(checks.check_triples, _read(p["triples"]), self.triples)
        self.check(checks.check_exact_link, _read(p["link"]), self.ent, self.mentions)
        self.check(checks.check_graph, _read(p["graph"]), self.graph)
        if roll is not None:
            for st in STAGES:
                r = roll.get(st, {})
                self.loop.add(f"pipeline.{st}.wall_ms", rep["stages"][st]["wall_s"] * 1000)
                for k in ("jobs", "tasks", "executor_cpu_ms", "shuffle_write_bytes"):
                    self.loop.add(f"pipeline.{st}.{k}", r.get(k, 0))
            self.loop.add("pipeline.driver_ms", ms - roll["__all__"]["covered_ms"])
        _remove(out)

    def _ingest_refresh(self) -> tuple[dict, dict]:
        from semtools_spark.streaming.kg_ingest import ingest_available, refresh_graph

        t0 = time.perf_counter()
        ingest_available(
            self.spark, self.landing, self.ingest_out,
            checkpoint_dir=self.path("ingest_ckpt"),
        )
        t1 = time.perf_counter()
        rep = refresh_graph(self.spark, self.ingest_out)
        t2 = time.perf_counter()
        return rep, {"ingest_ms": (t1 - t0) * 1000, "refresh_ms": (t2 - t1) * 1000}

    def _ingest(self) -> None:
        self.landed += self._scan(self._land())
        res, _ms, roll = self.loop.call("ingest_refresh", self._ingest_refresh)
        if res is None:
            return
        rep, split = res
        p = rep["paths"]
        self.check(checks.check_exact_link, _read(p["link"]), self.ent, self._mentions(self.landed))
        self.check(checks.check_graph, _read(p["graph"]), checks.expected_graph(self.landed, self.ent))
        if roll is not None:
            for k, v in split.items():
                self.loop.add(f"streaming.kg_ingest.{k}", v)
            self.loop.add("streaming.kg_ingest.jobs", roll["__all__"]["jobs"])


# ---- entity_resolve -----------------------------------------------------------


class EntityResolve(Workload):
    """LSH entity link at catalog scale plus distributed canonicalization;
    incremental op links a small batch of new forms."""

    name = "entity_resolve"
    main_kind, update_kind = "link_canon", "link_small"
    N_CATALOG = 2_000
    LSH_ABOVE = 1_000  # the caller's cutover: this catalog takes the LSH tier
    N_FORM_ROWS = 1_000
    N_SMALL = 100
    N_CANON = 10_000  # star-forest edges for the distributed CC loop
    N_WARM_EDGES = 2_000
    MENTION_ID0 = 1 << 40
    N_SAMPLE = 200
    WORDS = (
        "corp labs systems group inc holdings tech media works global north "
        "south atlas nova delta vertex orion helix quanta zephyr"
    ).split()
    SUFFIXES = ("ltd", "co", "llc", "plc")

    def setup(self) -> None:
        r = self.rng
        a = r.integers(0, len(self.WORDS), self.N_CATALOG)
        b = r.integers(0, len(self.WORDS), self.N_CATALOG)
        self.names = [
            f"entity {i} {self.WORDS[x]} {self.WORDS[y]}" for i, (x, y) in enumerate(zip(a, b))
        ]
        self.emb = checks.Embedder(DIM, EMB_SEED)
        self.cat_emb = self.emb.embed(self.names)
        self.catalog = self.path("catalog.parquet")
        pq.write_table(
            pa.table({
                "entity_id": pa.array(np.arange(self.N_CATALOG), pa.int64()),
                "name": self.names,
                "embedding": pa.array(list(self.cat_emb), pa.list_(pa.float32())),
            }),
            self.catalog,
        )

    def warmup(self) -> list:
        forms = self._write_forms(self._forms(self.N_SMALL), "warm_forms")
        edges = self._star_forest("warm", self.N_WARM_EDGES)
        return [
            lambda: self._link(forms, self.path("warm_link")),
            lambda: self._canon(edges, self.path("warm_cc")),
        ]

    def _forms(self, n: int) -> list[str]:
        """Surface forms drawn with repeats: 90% exact catalog names, 10%
        with a suffix token, so multi-probe and rescue see near misses."""
        r = self.rng
        ids = r.integers(0, self.N_CATALOG, n)
        suf = r.integers(0, len(self.SUFFIXES), n)
        near = r.random(n) < 0.1
        return [
            self.names[i] + (f" {self.SUFFIXES[s]}" if m else "")
            for i, s, m in zip(ids, suf, near)
        ]

    def _write_forms(self, forms, tag: str) -> str:
        p = self.path(f"{tag}.parquet")
        pq.write_table(pa.table({"mention": forms}), p)
        return p

    def _link(self, forms_path: str, out: str) -> bool:
        from semtools_spark.operators import kg

        df = kg.link_entities(
            self.spark.read.parquet(forms_path), self.spark.read.parquet(self.catalog),
            dim=DIM, seed=EMB_SEED, use_lsh_above=self.LSH_ABOVE,
            catalog_size=self.N_CATALOG,
        )
        df.write.parquet(out)
        for b in df._semtools_broadcasts:  # as the pipeline does after a stage
            b.unpersist()
        return True

    def _star_forest(self, tag: str, n: int) -> str:
        """The mention -> entity edges a link table holds at scale: every
        mention node (ids above the catalog's) links one entity, with
        entities Zipf-skewed so hub entities carry most mentions."""
        ent = (self.rng.zipf(1.3, n) - 1) % self.N_CATALOG
        p = self.path(f"edges_{tag}.parquet")
        pq.write_table(
            pa.table({
                "src": pa.array(self.MENTION_ID0 + np.arange(n), pa.int64()),
                "dst": pa.array(ent, pa.int64()),
            }),
            p,
        )
        return p

    def _canon(self, edges: str, out: str) -> bool:
        """Canonicalization's connected components, on the distributed
        large-star/small-star loop (the driver union-find is turned off)."""
        from semtools_spark.operators import kg

        kg.connected_components(
            self.spark.read.parquet(edges), small_graph_threshold=0
        ).write.parquet(out)
        return True

    @staticmethod
    def _step_of(group):
        return group[len("perfbench-"):] if group else "op"

    def round(self, rnd: int) -> None:
        forms = self._forms(self.N_FORM_ROWS)
        forms_path = self._write_forms(forms, f"forms_{rnd}")
        canon_in = self._star_forest(str(rnd), self.N_CANON)
        link_out, canon_out = self.path(f"link_{rnd}"), self.path(f"canon_{rnd}")
        sc = self.spark.sparkContext

        def link_canon():
            t0 = time.perf_counter()
            sc.setJobGroup("perfbench-link_bulk", "link_bulk")
            self._link(forms_path, link_out)
            t1 = time.perf_counter()
            sc.setJobGroup("perfbench-canon", "canon")
            self._canon(canon_in, canon_out)
            return {"link": (t1 - t0) * 1000, "canon": (time.perf_counter() - t1) * 1000}

        split, _ms, roll = self.loop.call("link_canon", link_canon, group_of=self._step_of)
        if split is not None:
            out = _read(link_out)
            sample = [str(x) for x in self.rng.choice(sorted(set(forms)), self.N_SAMPLE, replace=False)]
            self.check(checks.check_link, out, forms, self.names, self.cat_emb, self.emb, sample)
            self.check(checks.check_canon, _read(canon_out), _read(canon_in))
            self.items += len(set(forms)) + self.N_CANON
            if roll is not None:
                lb, cn = roll.get("link_bulk", {}), roll.get("canon", {})
                self.loop.add("kg.link.bulk_ms", split["link"])
                self.loop.add("kg.link.rescued", int(out["rescued"].sum()))
                for k in ("jobs", "executor_cpu_ms", "shuffle_write_bytes"):
                    self.loop.add(f"kg.link.bulk_{k}", lb.get(k, 0))
                self.loop.add("kg.canon.ms", split["canon"])
                self.loop.add("kg.canon.jobs", cn.get("jobs", 0))
                self.loop.add("kg.canon.stages", cn.get("stages", 0))

        for p in (forms_path, canon_in, link_out, canon_out):
            _remove(p)
        for k in range(UPDATES_PER_ROUND):
            self._link_small(f"{rnd}_{k}")

    def _link_small(self, tag: str) -> None:
        small = [f + " new" for f in self._forms(self.N_SMALL)]
        small_path = self._write_forms(small, f"small_{tag}")
        small_out = self.path(f"small_link_{tag}")
        ok, ms, roll = self.loop.call("link_small", lambda: self._link(small_path, small_out))
        if ok:
            self.check(
                checks.check_link, _read(small_out), small, self.names, self.cat_emb,
                self.emb, small[:20],
            )
            self.items += len(set(small))
            if roll is not None:
                self.loop.add("kg.link.small_ms", ms)
                self.loop.add("kg.link.small_jobs", roll["__all__"]["jobs"])
        _remove(small_path)
        _remove(small_out)


# ---- workspace_serve ------------------------------------------------------------


class WorkspaceServe(Workload):
    """Workspace top-k search in a closed loop, with one incremental sync
    of changed, new and deleted docs every SEARCHES_PER_SYNC searches."""

    name = "workspace_serve"
    main_kind, update_kind = "search", "sync"
    extra_layers = {
        "workspace.search.p90_ms": "ms",
        "workspace.search.jobs": "count",
        "workspace.sync.jobs": "count",
        "workspace.sync.output_bytes": "bytes",
        "workspace.agent_search.p50_ms": "ms",
        "search.file_search.p50_ms": "ms",
    }
    N_DOCS = 200
    LINES = (10, 30)
    WORDS = (4, 12)
    VOCAB = 600
    TOP_K = 5
    SEARCHES_PER_SYNC = 8
    DELTA = 4  # docs changed, added and deleted per sync

    def setup(self) -> None:
        from semtools_spark.operators.workspace import Workspace

        self.vocab = [f"w{j}" for j in range(self.VOCAB)]
        self.emb = checks.Embedder(DIM, EMB_SEED)
        self.docs: dict[int, list[str]] = {}
        self.vecs: dict[int, np.ndarray] = {}
        self.mtime: dict[int, int] = {}
        self.next_id = 0
        self.version = 0
        for _ in range(self.N_DOCS):
            self._new_doc()
        self.ws = Workspace(self.spark, self.path("ws"), dim=DIM, seed=EMB_SEED)
        self.check(checks.check_sync, self.ws.sync(self._docs_df(), mtime_col="mtime"),
                   {"new": self.N_DOCS})

    def warmup(self) -> list:
        """A delta sync alongside one of each read; the reads race the
        sync, so only the sync is checked."""
        from semtools_spark.operators.search import search

        docs = self.spark.read.parquet(self.docs_path)
        q = self._query()
        sync = self._delta()
        return [
            lambda: self._check_sync(*sync(), *sync.want),
            lambda: self.ws.search(q, top_k=self.TOP_K).collect(),
            lambda: self.ws.agent_search(q).collect(),
            lambda: search(docs, q, top_k=self.TOP_K, dim=DIM, seed=EMB_SEED).collect(),
        ]

    def _line(self) -> str:
        n = int(self.rng.integers(self.WORDS[0], self.WORDS[1] + 1))
        return " ".join(self.vocab[j] for j in self.rng.integers(0, self.VOCAB, n))

    def _set_doc(self, d: int, lines: list[str]) -> None:
        self.docs[d] = lines
        self.vecs[d] = self.emb.embed(lines)
        self.mtime[d] = self.mtime.get(d, 0) + 1

    def _new_doc(self) -> None:
        d = self.next_id
        self.next_id += 1
        n = int(self.rng.integers(self.LINES[0], self.LINES[1] + 1))
        self._set_doc(d, [self._line() for _ in range(n)])

    def _docs_df(self):
        """The current doc set as a fresh parquet file, read by Spark."""
        self.version += 1
        ids = sorted(self.docs)
        self.docs_path = self.path(f"docs_{self.version}.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": ["\n".join(self.docs[d]) for d in ids],
                "mtime": pa.array([self.mtime[d] for d in ids], pa.int64()),
            }),
            self.docs_path,
        )
        return self.spark.read.parquet(self.docs_path)

    def _query(self) -> str:
        n = int(self.rng.integers(1, 4))
        return " ".join(self.vocab[j] for j in self.rng.integers(0, self.VOCAB, n))

    def _ref(self, q: str) -> dict:
        """(doc, line_no) -> brute-force distance to ``q``."""
        qv = self.emb.embed([q])[0][None, :]
        return {
            (d, ln): float(x)
            for d, m in self.vecs.items()
            for ln, x in enumerate(checks.cosine_dist(m, qv))
        }

    def _delta(self):
        """Change, add and delete DELTA docs in the benchmark's own copy;
        returns the sync operation over the new doc set."""
        r = self.rng
        ids = sorted(self.docs)
        pick = r.choice(len(ids), 2 * self.DELTA, replace=False)
        for i in pick[: self.DELTA]:
            lines = list(self.docs[ids[i]])
            for j in r.choice(len(lines), 3, replace=False):
                lines[j] = self._line()
            self._set_doc(ids[i], lines + [self._line()])
        deleted = [ids[i] for i in pick[self.DELTA:]]
        n_del_lines = sum(len(self.docs[d]) for d in deleted)
        for d in deleted:
            del self.docs[d], self.vecs[d], self.mtime[d]
        for _ in range(self.DELTA):
            self._new_doc()
        df = self._docs_df()

        def op():
            return self.ws.sync(df, mtime_col="mtime"), self.ws.prune(df)

        op.want = (
            {"new": self.DELTA, "changed": self.DELTA, "stale": self.DELTA,
             "unchanged": len(self.docs) - 2 * self.DELTA},
            {"docs": self.DELTA, "lines": n_del_lines},
        )
        return op

    def _check_sync(self, counts, pruned, want_counts, want_pruned) -> None:
        self.check(checks.check_sync, counts, want_counts)
        if pruned != want_pruned:
            self.errors.append(f"prune: {pruned}, expected {want_pruned}")

    def _search(self) -> None:
        q = self._query()
        rows, _ms, roll = self.loop.call(
            "search", lambda: self.ws.search(q, top_k=self.TOP_K).collect()
        )
        if rows is None:
            return
        self.items += 1
        got = [(r["doc"], r["line_no"], r["distance"]) for r in rows]
        self.check(checks.check_topk, got, self._ref(q), self.TOP_K, set(self.docs), "search")
        if roll is not None:
            self.loop.add("workspace.search.jobs", roll["__all__"]["jobs"])

    def _sync(self) -> None:
        op = self._delta()
        res, _ms, roll = self.loop.call("sync", op)
        if res is None:
            return
        self.items += 1
        self._check_sync(*res, *op.want)
        if roll is not None:
            self.loop.add("workspace.sync.jobs", roll["__all__"]["jobs"])
            self.loop.add("workspace.sync.output_bytes", roll["__all__"]["output_bytes"])

    def _reference_ops(self) -> None:
        from semtools_spark.operators.search import search

        live = set(self.docs)
        q = self._query()
        rows, _ms, _ = self.loop.call(
            "agent_search", lambda: self.ws.agent_search(q).collect(), counted=False
        )
        dead = [r["doc"] for r in rows or () if r["doc"] not in live]
        if dead:
            self.errors.append(f"agent_search: hit on deleted doc {dead[0]}")
        q = self._query()
        docs = self.spark.read.parquet(self.docs_path)
        rows, _ms, _ = self.loop.call(
            "file_search",
            lambda: search(docs, q, top_k=self.TOP_K, dim=DIM, seed=EMB_SEED).collect(),
            counted=False,
        )
        if rows is not None:
            got = [(r["doc"], r["match_line"], r["distance"]) for r in rows]
            self.check(checks.check_topk, got, self._ref(q), self.TOP_K, live, "file_search")

    def round(self, rnd: int) -> None:
        for _ in range(self.SEARCHES_PER_SYNC):
            self._search()
        self._sync()
        self._reference_ops()

    def layers(self) -> dict:
        out = super().layers()
        lat = self.loop.lat_ms
        out["workspace.search.p90_ms"] = pctl(lat["search"], 0.9)
        out["workspace.agent_search.p50_ms"] = median(lat["agent_search"])
        out["search.file_search.p50_ms"] = median(lat["file_search"])
        return out


WORKLOADS = {w.name: w for w in (KgBuild, EntityResolve, WorkspaceServe)}
