"""Output checks, computed apart from the program.

Every reference here is recomputed from the benchmark's own inputs with
plain Python and NumPy: a whitespace token-window scan for triples, a
re-derivation of the hash-token embedding for cosine distances, and
brute-force top-k over the benchmark's own line set. Nothing compares
against a stored copy of an earlier output.

Each ``check_*`` takes the output under test first and returns a list of
error strings; an empty list passes.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

TOL = 1e-6

# Spark's split(text, '\\s+') is Java's regex split: \s is ASCII-only there
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


class Embedder:
    """The static hash-token embedding, re-derived from its definition:
    token -> first 8 bytes of md5('seed:token') -> Philox-seeded Gaussian
    (float32), whitespace tokens capped at 2048, mean-pooled in float64,
    L2-normalised, float32."""

    def __init__(self, dim: int, seed: int):
        self.dim, self.seed = dim, seed
        self._tok: dict[str, np.ndarray] = {}

    def _vec(self, tok: str) -> np.ndarray:
        v = self._tok.get(tok)
        if v is None:
            d = hashlib.md5(f"{self.seed}:{tok}".encode("utf-8", "surrogatepass"))
            key = int.from_bytes(d.digest()[:8], "big")
            rng = np.random.Generator(np.random.Philox(key=key))
            v = rng.standard_normal(self.dim).astype(np.float32).astype(np.float64)
            self._tok[tok] = v
        return v

    def embed(self, texts) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=np.float32)
        for i, t in enumerate(texts):
            toks = (t or "").split()[:2048]
            if not toks:
                continue
            m = np.sum([self._vec(x) for x in toks], axis=0) / len(toks)
            n = np.sqrt(m @ m)
            out[i] = (m / n if n > 0 else m).astype(np.float32)
        return out


def cosine_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise 1 - cos(a, b) in float64; 1.0 where a norm is zero."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    den = np.linalg.norm(a, axis=-1) * np.linalg.norm(b, axis=-1)
    num = np.sum(a * b, axis=-1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(den > 0, 1.0 - num / np.where(den > 0, den, 1.0), 1.0)


# ---- kg_build -------------------------------------------------------------


def scan_triples(url: str, text: str, entities, relations) -> list[tuple]:
    """(doc, pos, subj, pred, obj) for each window (entity, relation,
    entity) of consecutive whitespace tokens."""
    if not text:
        return []
    w = _JAVA_WS.split(text)
    return [
        (url, i, w[i], w[i + 1], w[i + 2])
        for i in range(len(w) - 2)
        if w[i + 1] in relations and w[i] in entities and w[i + 2] in entities
    ]


def expected_graph(triples, entities) -> Counter:
    """(subj, pred, obj, subj_id, obj_id) -> provenance count, when every
    mention is an exact entity name (its canonical id is its index)."""
    idx = {e: i for i, e in enumerate(entities)}
    return Counter((s, p, o, idx[s], idx[o]) for (_d, _i, s, p, o) in triples)


def check_parse(parsed, pages_text: dict) -> list[str]:
    """Every url's parsed text equals the generator's text byte for byte."""
    got = dict(zip(parsed["url"], parsed["text"]))
    errs = []
    if len(parsed) != len(got):
        errs.append(f"parse: {len(parsed) - len(got)} duplicate urls")
    if set(got) != set(pages_text):
        errs.append(
            f"parse: url sets differ ({len(set(pages_text) - set(got))} missing, "
            f"{len(set(got) - set(pages_text))} extra)"
        )
    bad = [u for u, t in pages_text.items() if u in got and (got[u] or "") != t]
    if bad:
        errs.append(f"parse: {len(bad)} urls differ from generator text, e.g. {bad[0]}")
    return errs


def check_triples(triples, expected: Counter) -> list[str]:
    got = Counter(
        zip(triples["doc"], triples["pos"].astype(int), triples["subj"],
            triples["pred"], triples["obj"])
    )
    if got == expected:
        return []
    return [
        f"triples: multiset differs ({sum((expected - got).values())} missing, "
        f"{sum((got - expected).values())} extra of {sum(expected.values())})"
    ]


def check_exact_link(link, entities, mentions: set) -> list[str]:
    """Each mention links to the same-named entity at distance < TOL."""
    errs = []
    ms = list(link["mention"])
    if len(ms) != len(set(ms)) or set(ms) != mentions:
        errs.append(f"link: mentions differ from the {len(mentions)} distinct triple mentions")
    for m, e, d in zip(link["mention"], link["entity_id"], link["link_distance"]):
        if not (0 <= e < len(entities)) or entities[e] != m or not d < TOL:
            errs.append(f"link: {m!r} -> entity {e} at distance {d}")
            break
    return errs


def check_graph(graph, expected: Counter) -> list[str]:
    got = Counter()
    for s, p, o, si, oi, n in zip(
        graph["subj"], graph["pred"], graph["obj"], graph["subj_id"],
        graph["obj_id"], graph["n_mentions"],
    ):
        got[(s, p, o, int(si), int(oi))] += int(n)
    if got == expected and len(graph) == len(expected):
        return []
    return [
        f"graph: {len(graph)} rows / {sum(got.values())} mentions, expected "
        f"{len(expected)} rows / {sum(expected.values())} mentions"
    ]


# ---- entity_resolve -------------------------------------------------------


def check_link(out, forms: list[str], names: list[str], cat_emb: np.ndarray,
               emb: Embedder, sample: list[str]) -> list[str]:
    """Top-1 link output against the catalog: one row per distinct form;
    exact names link to themselves; every distance is the cosine to the
    returned entity; no distance beats brute force on ``sample``."""
    errs = []
    ms = list(out["mention"])
    if len(ms) != len(set(ms)) or set(ms) != set(forms):
        errs.append(
            f"link: {len(ms)} rows / {len(set(ms))} forms, expected "
            f"{len(set(forms))} distinct forms once each"
        )
    ids = np.asarray(out["entity_id"], dtype=np.int64)
    dist = np.asarray(out["link_distance"], dtype=np.float64)
    if len(ids) and (ids.min() < 0 or ids.max() >= len(names)):
        return errs + ["link: entity_id outside the catalog"]
    name_id = {n: i for i, n in enumerate(names)}
    for m, e, d in zip(ms, ids, dist):
        if m in name_id and (e != name_id[m] or not d < TOL):
            errs.append(f"link: exact name {m!r} -> entity {e} at {d}")
            break
    ref = cosine_dist(emb.embed(ms), cat_emb[ids])
    bad = np.flatnonzero(np.abs(ref - dist) >= TOL)
    if bad.size:
        i = bad[0]
        errs.append(f"link: {ms[i]!r} distance {dist[i]} != cosine {ref[i]}")
    row = {m: i for i, m in enumerate(ms)}
    picked = [m for m in sample if m in row]
    if picked:
        q = emb.embed(picked).astype(np.float64)
        c = cat_emb.astype(np.float64)
        best = 1.0 - (q @ c.T).max(axis=1)  # rows are unit or zero
        got = dist[[row[m] for m in picked]]
        worse = np.flatnonzero(got < best - TOL)
        if worse.size:
            i = worse[0]
            errs.append(f"link: {picked[i]!r} distance {got[i]} beats brute force {best[i]}")
    return errs


def check_canon(out, edges) -> list[str]:
    """Connected components of a star forest (each mention node linked to
    one entity, entity ids below mention ids): every mention's component
    is its entity, and every entity is its own component."""
    comp = dict(zip(out["node"], out["component"]))
    errs = []
    if len(comp) != len(out):
        errs.append(f"canon: {len(out) - len(comp)} duplicate nodes")
    want = dict(zip(edges["src"], edges["dst"]))
    want.update((e, e) for e in set(edges["dst"]))
    if set(comp) != set(want):
        errs.append(f"canon: {len(comp)} nodes, expected {len(want)}")
    bad = sum(1 for n, c in want.items() if comp.get(n, c) != c)
    if bad:
        errs.append(f"canon: {bad} nodes in the wrong component")
    return errs


# ---- workspace_serve ------------------------------------------------------


def check_topk(got, ref: dict, k: int, live_docs: set, what: str) -> list[str]:
    """``got``: [(doc, line_no, distance)] in returned order. ``ref``:
    (doc, line_no) -> brute-force distance over the current line set.
    Passes iff ``got`` is the top-k of ``ref`` within TOL (ties anywhere
    inside TOL may resolve either way), every distance matches its line,
    and the order is (distance, doc, line_no)."""
    errs = []
    want = min(k, len(ref))
    if len(got) != want:
        errs.append(f"{what}: {len(got)} hits, expected {want}")
    keys = [(d, ln) for d, ln, _ in got]
    if sorted(got, key=lambda r: (r[2], r[0], r[1])) != list(got):
        errs.append(f"{what}: hits not ordered by (distance, doc, line_no)")
    dead = [d for d, _ in keys if d not in live_docs]
    if dead:
        errs.append(f"{what}: hit on deleted doc {dead[0]}")
    for d, ln, dist in got:
        r = ref.get((d, ln))
        if r is None:
            errs.append(f"{what}: hit ({d}, {ln}) is not a current line")
            return errs
        if abs(r - dist) >= TOL:
            errs.append(f"{what}: ({d}, {ln}) distance {dist} != brute force {r}")
            return errs
    if want and not errs:
        ranked = sorted(ref.values())
        kth = ranked[want - 1]
        must = {key for key, v in ref.items() if v < kth - TOL}
        if not must <= set(keys) or any(ref[key] > kth + TOL for key in keys):
            errs.append(f"{what}: hits are not the brute-force top-{k}")
    return errs


def check_sync(counts: dict, expected: dict) -> list[str]:
    got = {s: int(counts.get(s, 0)) for s in expected}
    return [] if got == expected else [f"sync: counts {got}, expected {expected}"]
