"""`docgen` — a Spark 4 Python DataSource that generates a synthetic
documents corpus on the fly: partition-parallel, seeded-deterministic,
with doc_id range-filter pushdown.

Why an engine needs this: scale probes and operator benchmarks want a
10^7-10^9-row documents table WITHOUT first materializing terabytes of
parquet. A data source generates rows inside the executors — the scan
parallelizes like any file scan, the optimizer's pushed filters prune
whole partitions before a single row is built, and the content is a
pure function of (seed, doc_id), so results are identical for any
partition count (retry/speculation-safe, like every other deterministic
operator in this engine).

Usage::

    spark.dataSource.register(DocGenDataSource)
    df = (spark.read.format("docgen")
          .option("n_docs", 1_000_000)
          .option("n_partitions", 64)
          .option("seed", 7)
          .load())

Schema matches the test lake's ``documents`` table
(doc_id, text, lang, source, n_chars), so every corpus operator runs
on generated data unchanged.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    IsNotNull,
    SimpleDataSourceStreamReader,
)

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch window "
    "spark order data column join small line customer query the a filter "
    "group sort index page block cache disk read write plan cost stats"
).split()
_LANGS = ("en", "de", "fr", "es")
_SOURCES = ("src0", "src1", "src2")


@dataclass
class _Range(InputPartition):
    start: int
    end: int  # exclusive


def _doc(
    seed: int,
    doc_id: int,
    min_words: int,
    max_words: int,
    vocab_size: int | None = None,
):
    """Deterministic document for (seed, doc_id): every field derives
    from an md5 stream, independent of partitioning or iteration order.

    ``vocab_size`` switches word generation to a SYNTHETIC ZIPFIAN
    vocabulary of that many types ("w1".."w<V>"): each word draws a
    log-uniform rank — P(rank=r) ∝ 1/r, the canonical natural-language
    frequency law — from two md5 bytes. The default (None) keeps the
    legacy 40-word uniform pool, whose degenerate selectivity is
    exactly what the realistic-vocabulary corpus exists to escape
    (SCALE.md §29: every query term matching ~1/31 of all postings is
    the lexical family's worst case, not its design point)."""
    import math

    h = hashlib.md5(f"{seed}:{doc_id}".encode()).digest()
    n_words = min_words + h[0] % (max_words - min_words + 1)
    words: list[str] = []
    if vocab_size:
        ln_v = math.log(vocab_size)
        # 2 bytes of stream per word -> 8 words per md5 block
        for block in range((n_words + 7) // 8):
            hb = hashlib.md5(f"{seed}:{doc_id}:z{block}".encode()).digest()
            for i in range(8):
                u = (hb[2 * i] * 256 + hb[2 * i + 1]) / 65536.0
                words.append(f"w{int(math.exp(u * ln_v))}")
    else:
        # cheap counter-mode stream: one md5 per 16 words
        for block in range((n_words + 15) // 16):
            hb = hashlib.md5(f"{seed}:{doc_id}:{block}".encode()).digest()
            words.extend(_VOCAB[b % len(_VOCAB)] for b in hb)
    text = " ".join(words[:n_words])
    return (
        doc_id,
        text,
        _LANGS[h[1] % len(_LANGS)],
        _SOURCES[h[2] % len(_SOURCES)],
        len(text),
    )


class DocGenReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.seed = int(options.get("seed", 42))
        self.min_words = int(options.get("min_words", 10))
        self.max_words = int(options.get("max_words", 99))
        v = options.get("vocab_size")
        self.vocab_size = int(v) if v is not None else None
        self.min_rows_per_partition = int(
            options.get("min_rows_per_partition", 1000)
        )
        # doc_id range narrowed by pushed filters (half-open)
        self.lo = 0
        self.hi = self.n_docs

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept doc_id range predicates by shrinking [lo, hi); pass
        everything else (and IsNotNull, which is free but easier to let
        Spark re-check) back for post-scan evaluation."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("doc_id",) or col == ["doc_id"] or col == "doc_id":
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, IsNotNull):
                    continue  # doc_id is never null; fully handled
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        """Split the (possibly filter-pruned) id range evenly; a fully
        pruned range yields no partitions — zero tasks launched — and a
        small range collapses to few tasks (min_rows_per_partition
        floor) instead of scheduling n_partitions near-empty ones."""
        lo, hi = self.lo, max(self.lo, self.hi)
        if hi <= lo:
            return []
        total = hi - lo
        n = min(
            self.n_partitions,
            max(1, -(-total // self.min_rows_per_partition)),
        )
        step = -(-total // n)
        return [_Range(lo + i * step, min(lo + (i + 1) * step, hi)) for i in range(n)]

    def read(self, partition: _Range) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield _doc(
                self.seed, doc_id, self.min_words, self.max_words,
                self.vocab_size,
            )


class DocGenStreamReader(SimpleDataSourceStreamReader):
    """Micro-batched stream of the same deterministic corpus: each
    trigger emits the next ``rows_per_batch`` documents (offset = next
    doc_id to generate). Replayable by construction — Structured
    Streaming's offset log + a pure (seed, doc_id) → row function gives
    exactly-once regeneration of any batch range, the same contract a
    Kafka offset range provides.

    `SimpleDataSourceStreamReader` runs reads on the driver and is
    meant for modest per-batch volumes (its prefetch/cache path); the
    point here is correctness-testable streaming semantics over a
    deterministic source, not bulk throughput (use the batch reader
    for that)."""

    def __init__(self, options) -> None:
        self.n_docs = int(options.get("n_docs", 1000))
        self.rows_per_batch = int(options.get("rows_per_batch", 100))
        self.seed = int(options.get("seed", 42))
        self.min_words = int(options.get("min_words", 10))
        self.max_words = int(options.get("max_words", 99))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = int(start["next"])
        hi = min(lo + self.rows_per_batch, self.n_docs)
        end = {"next": hi}
        # an iterator over a materialized list, not a generator: the
        # runner's prefetch cache copy.copy()s the returned iterator
        # between triggers, and calls next() on it when a drained
        # stream returns start == end
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        for doc_id in range(int(start["next"]), int(end["next"])):
            yield _doc(self.seed, doc_id, self.min_words, self.max_words)


class DocGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "docgen"

    def schema(self) -> str:
        return (
            "doc_id long, text string, lang string, source string, n_chars long"
        )

    def reader(self, schema) -> DocGenReader:
        return DocGenReader(self.options)

    def simpleStreamReader(self, schema) -> DocGenStreamReader:
        return DocGenStreamReader(self.options)
