"""Parse stage: web-page ``html: binary`` → ``text: string``, byte-identical
per url (the north-rule invariant).

Mirrors the reference's parse pipeline shape (semtools src/parse/):

  P1 extension passthrough  — already-readable files skip extraction
                              (reference cache.rs:24-53); here the ``.txt``
                              urls whose html column holds raw text bytes.
  P2 parse-cache probe      — per stage, not per page: pipeline.py's
                              checkpoint manifest skips a committed parse
                              stage whose input fingerprint is unchanged.
  P3/P4 extraction         — the reference calls a remote LlamaParse API
                              (client.rs:290-433); we pin a deterministic
                              local extractor (no network) run as a
                              vectorized Arrow UDF over the binary column.
                              Page text joins with "\\n\\n" exactly like the
                              reference's page concat (client.rs:87-88,104-105).
  P5 retry / P6 concurrency — Spark task retries + partition parallelism
                              replace backoff loops and semaphores
                              (config.rs:24,36-38; backend.rs:32).
  P7 cache write            — the caller MERGEs results + manifest rows
                              (pipeline.py handles the checkpoint commit).

The extractor is PINNED: tests assert ``extract_text(html) == text``
byte-for-byte for every generated page, and the committed golden fixtures
are produced by the same pure function run single-node — so any drift in
either the Spark plumbing or the extractor itself fails the P/R gate.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# reference src/parse/cache.rs:24-53 (case-insensitive extension set)
PASSTHROUGH_EXTS = (
    "txt", "md", "rst", "org", "csv", "json", "xml", "yaml", "yml",
    "py", "js", "ts", "rs",
)

_DROP_BLOCKS = re.compile(
    r"<(script|style|nav|footer)\b[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE
)
_PARA = re.compile(r"<p\b[^>]*>(.*?)</p>", re.DOTALL | re.IGNORECASE)


def _unescape(s: str) -> str:
    # exact inverse of sources.web_pages._escape (amp last)
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def extract_text(html: bytes) -> str:
    """Pinned deterministic extractor: drop script/style/nav/footer blocks,
    take ``<p>`` paragraph contents in document order, unescape entities,
    join with "\\n\\n" (the reference's page-concat separator,
    client.rs:87-88). Pure function of the bytes — no state, no network."""
    if not html:
        return ""
    doc = html.decode("utf-8", errors="replace")
    doc = _DROP_BLOCKS.sub("", doc)
    paras = [_unescape(m) for m in _PARA.findall(doc)]
    return "\n\n".join(paras)


def passthrough_predicate(url_col: str = "url"):
    """P1: JVM-side predicate — url extension in the passthrough set."""
    ext = F.lower(F.regexp_extract(F.col(url_col), r"\.([^./]+)$", 1))
    return ext.isin(list(PASSTHROUGH_EXTS))


def extract_text_udf(extractor=None):
    """Arrow-batched UDF twin of :func:`extract_text_expr` — kept for
    callers that need the pure-Python extractor inside Spark (fixture
    cross-checks); the hot path uses the JVM expression instead.

    ``extractor`` swaps in any custom ``bytes -> str`` function (see
    :func:`parse_pages`); defaults to the pinned :func:`extract_text`."""
    fn = extract_text if extractor is None else extractor

    @F.pandas_udf(T.StringType())
    def _extract(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda b: fn(bytes(b)) if b is not None else "")

    return _extract


def extract_text_expr(html_col: str = "html"):
    """The pinned extractor as pure JVM regex expressions — the whole
    parse stage stays inside whole-stage codegen: no Python workers, no
    Arrow transfer of the html bytes, no per-row Python (the input_hint
    requirement taken literally). Byte-identity with
    :func:`extract_text` is asserted corpus-wide by
    tests/test_webpipeline.py::test_extraction_byte_identical_per_url.

    Steps mirror extract_text exactly: decode utf-8 → drop
    script/style/nav/footer blocks ((?si) = DOTALL|IGNORECASE, non-greedy,
    backreference close tag — same semantics in Java and Python regex) →
    collect <p> group-1 contents in document order → per-paragraph entity
    unescape (lt, gt, amp last) → join with the reference's page-concat
    separator "\\n\\n" (client.rs:87-88)."""
    doc = F.decode(F.col(html_col), "UTF-8")
    stripped = F.regexp_replace(
        doc, r"(?si)<(script|style|nav|footer)\b[^>]*>.*?</\1>", ""
    )
    paras = F.transform(
        F.regexp_extract_all(stripped, F.lit(r"(?si)<p\b[^>]*>(.*?)</p>"), F.lit(1)),
        lambda x: F.replace(
            F.replace(F.replace(x, F.lit("&lt;"), F.lit("<")), F.lit("&gt;"), F.lit(">")),
            F.lit("&amp;"),
            F.lit("&"),
        ),
    )
    return F.coalesce(F.array_join(paras, "\n\n"), F.lit(""))


def parse_pages(pages: DataFrame, extractor=None) -> DataFrame:
    """web_pages → (url, warc_ts, lang, text) with text extracted.

    Two scan branches:

      passthrough (P1): text = utf-8 decode of the raw bytes
      needs-parse:      text = extract_text_expr(html) — JVM regex inside
                        whole-stage codegen (no Python workers at all)

    Both branches prune the scan to (url, warc_ts, lang, html); filters
    push to parquet. Union preserves partitioning — no shuffle anywhere.

    ``extractor`` is the pluggable extraction slot (the reference swaps
    parse backends behind one trait, src/parse/backend.rs): any
    DETERMINISTIC pure function ``bytes -> str`` (no state, no network —
    determinism is what makes the byte-identity fingerprint/resume
    contract hold). It runs as an Arrow-batched pandas UDF over the
    needs-parse branch only (passthrough stays a raw decode), so e.g. a
    trafilatura-class real-HTML extractor drops in without touching the
    Spark plumbing. Default ``None`` keeps the pinned JVM-regex extractor
    — byte-identity fixtures are unaffected.
    """
    is_pass = passthrough_predicate()
    base = pages.select("url", "warc_ts", "lang", "html")
    pass_df = base.filter(is_pass).select(
        "url", "warc_ts", "lang", F.decode(F.col("html"), "UTF-8").alias("text")
    )
    # asNondeterministic (guide §4.4): a downstream filter on the
    # extracted text column (extract_triples filters empty docs) is
    # otherwise pushed below this projection and the optimizer DUPLICATES
    # the UDF — two ArrowEvalPython nodes, every page extracted twice
    # (measured: 51 extractor calls for 26 pages on the ingest path).
    # The extractor contract is a pure function, so results are
    # unchanged; the marking only forbids the optimizer from duplicating
    # or reordering the call.
    text_expr = (
        extract_text_expr("html")
        if extractor is None
        else extract_text_udf(extractor).asNondeterministic()(F.col("html"))
    )
    parse_df = base.filter(~is_pass).select(
        "url", "warc_ts", "lang", text_expr.alias("text")
    )
    return pass_df.unionByName(parse_df)
