"""Seeded input generator for the benchmark, with its own oracle.

Every value is plain integer arithmetic on the row id and the seed, so
the same Spark column expressions feed ``spark.range`` and the rate
source, and the expected violations and per-source row counts are
computed here in Python from the same arithmetic, without Spark.

Rows repeat their layout every ``PERIOD`` ids: the source of a row
depends only on ``id % PERIOD`` (``SRC_MUL`` is coprime to ``PERIOD``,
so each block of ``PERIOD`` ids holds exactly the source shares of
``SOURCES``), and the planted violation sites sit at fixed offsets in
every block. A table or micro-batch of whole blocks therefore has
exactly known contents.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VOCAB = 50257
MAX_TOK = 8192
PERIOD = 10_000
SRC_MUL = 7919
SOURCES = [
    # (name, cumulative share of PERIOD): skewed, web = 55%
    ("web", 5500), ("books", 8500), ("code", 10000),
]
UNKNOWN_SOURCE = "spam"
SHIFTED_SOURCE = "books"

# planted site kinds, in block order; a duplicate kind also uses the
# id right after its site
SITE_KINDS = [
    "elem_neg", "elem_big", "null_tokens", "empty_tokens", "ntok_off",
    "ntok_neg", "bad_docid", "dup_same_src", "dup_cross_src",
    "unknown_src_a", "unknown_src_b",
]
SITE_STRIDE = 3

BENCH_SPEC = {
    "@root": "#Sequence",
    "Sequence": {
        "doc_id": "(doc\\d{12})",
        "tokens": f"0..{VOCAB - 1}[1,{MAX_TOK}]",
        "n_tok": f"1..{MAX_TOK}",
        "source": "string",
    },
    "@table": {
        "key": "doc_id",
        "partition_by": "source",
        "unique": ["doc_id"],
        "consistent": {"n_tok": "size(tokens)"},
        "ref": {"source": {"dim": "allowed_sources", "column": "source"}},
    },
}

DRIFT_CLAUSE = {
    "len_hist": {"kind": "length_histogram", "column": "tokens",
                 "bucket_width": 64, "group_by": "source"},
}


def spec_with_drift() -> dict:
    spec = dict(BENCH_SPEC)
    spec["@table"] = {**BENCH_SPEC["@table"], "drift": DRIFT_CLAUSE}
    return spec


def site_offsets(seed: int) -> dict[str, int]:
    """Offset of each planted site inside a block; moves with the seed."""
    base = (seed * 2713) % (PERIOD - SITE_STRIDE * len(SITE_KINDS) - 2)
    return {k: base + SITE_STRIDE * i for i, k in enumerate(SITE_KINDS)}


def _src_bucket(pos: int, seed: int) -> str:
    u = (pos * SRC_MUL + seed * 104729) % PERIOD
    return next(name for name, cum in SOURCES if u < cum)


def _other_source(name: str) -> str:
    names = [n for n, _ in SOURCES]
    return names[(names.index(name) + 1) % len(names)]


@dataclass(frozen=True)
class Layout:
    """What one block of ``PERIOD`` ids holds, derived in Python."""

    seed: int
    offsets: dict[str, int]
    # position -> source after the planted overrides
    source_at: dict[int, str]

    @classmethod
    def for_seed(cls, seed: int) -> "Layout":
        off = site_offsets(seed)
        src = {p: _src_bucket(p, seed) for p in range(PERIOD)}
        src[off["dup_same_src"] + 1] = src[off["dup_same_src"]]
        cross = off["dup_cross_src"]
        src[cross + 1] = _other_source(src[cross])
        src[off["unknown_src_a"]] = UNKNOWN_SOURCE
        src[off["unknown_src_b"]] = UNKNOWN_SOURCE
        return cls(seed, off, src)

    def block_counts(self) -> Counter:
        return Counter(self.source_at.values())

    def source_counts(self, n_rows: int) -> Counter:
        """Rows per source in ids [0, n_rows); n_rows is whole blocks."""
        assert n_rows % PERIOD == 0
        blocks = n_rows // PERIOD
        return Counter({s: c * blocks for s, c in self.block_counts().items()})

    def block_violations(self, block: int) -> list[tuple[str, str, str]]:
        """(key, check_id, partition) rows the engine must emit for one
        block, row checks and ids-in-block uniqueness together."""
        o, b0 = self.offsets, block * PERIOD
        doc = lambda pos: f"doc{b0 + pos:012d}"  # noqa: E731
        src = self.source_at
        out = [
            (doc(o["elem_neg"]), "tokens_element_range", src[o["elem_neg"]]),
            (doc(o["elem_big"]), "tokens_element_range", src[o["elem_big"]]),
            (doc(o["null_tokens"]), "tokens_not_null", src[o["null_tokens"]]),
            (doc(o["empty_tokens"]), "tokens_len_bounds",
             src[o["empty_tokens"]]),
            (doc(o["empty_tokens"]), "n_tok_range", src[o["empty_tokens"]]),
            (doc(o["ntok_off"]), "n_tok_consistency", src[o["ntok_off"]]),
            (doc(o["ntok_neg"]), "n_tok_range", src[o["ntok_neg"]]),
            (doc(o["ntok_neg"]), "n_tok_consistency", src[o["ntok_neg"]]),
            (f"DOC-{b0 + o['bad_docid']}", "doc_id_format",
             src[o["bad_docid"]]),
            (doc(o["unknown_src_a"]), "source_ref", UNKNOWN_SOURCE),
            (doc(o["unknown_src_b"]), "source_ref", UNKNOWN_SOURCE),
        ]
        for kind in ("dup_same_src", "dup_cross_src"):
            p = o[kind]
            out.append((doc(p), "doc_id_unique", min(src[p], src[p + 1])))
        return out

    def violations(self, first_block: int, n_blocks: int) -> Counter:
        return Counter(
            (k, c) for b in range(first_block, first_block + n_blocks)
            for k, c, _ in self.block_violations(b))

    def violations_per_partition(self, n_blocks: int) -> Counter:
        return Counter(
            p for b in range(n_blocks) for _, _, p in self.block_violations(b))


def _source_expr(pos: Column, seed: int) -> Column:
    u = F.pmod(pos * SRC_MUL + F.lit(seed * 104729), F.lit(PERIOD))
    expr = None
    for name, cum in SOURCES:
        expr = (F.when(u < cum, name) if expr is None
                else expr.when(u < cum, name))
    return expr


def sequence_columns(ids: DataFrame, seed: int,
                     shift_source: str | None = None) -> DataFrame:
    """(doc_id, tokens, n_tok, source) from a long ``id`` column.

    Lengths are a mixture: 75% short (16-128 tokens), 25% long
    (512-2048). ``shift_source`` stretches that source's clean lengths
    by half, which is how the drift baseline is made.
    """
    lay = Layout.for_seed(seed)
    o = lay.offsets
    idc = F.col("id")
    pos = F.pmod(idc, F.lit(PERIOD))
    at = lambda kind, d=0: pos == o[kind] + d  # noqa: E731

    partner = lambda kind: F.lit(lay.source_at[o[kind] + 1])  # noqa: E731
    src = (F.when(at("dup_same_src", 1), partner("dup_same_src"))
           .when(at("dup_cross_src", 1), partner("dup_cross_src"))
           .when(at("unknown_src_a") | at("unknown_src_b"),
                 F.lit(UNKNOWN_SOURCE))
           .otherwise(_source_expr(pos, seed)))

    is_long = F.pmod(idc * 6151 + F.lit(seed * 13), F.lit(100)) < 25
    n = F.when(is_long, 512 + F.pmod(idc * 31 + F.lit(seed * 7), F.lit(1537))
               ).otherwise(16 + F.pmod(idc * 17 + F.lit(seed * 3), F.lit(113)))
    if shift_source is not None:
        n = F.when(src == shift_source, (n * 3) / 2).otherwise(n)
    n = n.cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda j: F.pmod(
            idc * 40503 + j.cast("long") * 1000003 + F.lit(seed * 7),
            F.lit(VOCAB)).cast("int"))

    doc = F.format_string("doc%012d", idc)
    doc = (F.when(at("bad_docid"), F.format_string("DOC-%d", idc))
           .when(at("dup_same_src", 1) | at("dup_cross_src", 1),
                 F.format_string("doc%012d", idc - 1))
           .otherwise(doc))
    tokens = (F.when(at("elem_neg"),
                     F.concat(F.array(F.lit(-7).cast("int")), tokens))
              .when(at("elem_big"),
                    F.concat(tokens, F.array(F.lit(99999).cast("int"))))
              .when(at("null_tokens"), F.lit(None).cast("array<int>"))
              .when(at("empty_tokens"), F.array().cast("array<int>"))
              .otherwise(tokens))
    n_tok = (F.when(at("elem_neg") | at("elem_big"), n + 1)
             .when(at("ntok_off"), n + 3)
             .when(at("ntok_neg"), F.lit(-1))
             .when(at("empty_tokens"), F.lit(0))
             .otherwise(n)).cast("int")
    return ids.select(doc.alias("doc_id"), tokens.alias("tokens"),
                      n_tok.alias("n_tok"), src.alias("source"))


def allowed_sources(spark) -> DataFrame:
    return spark.createDataFrame([(n,) for n, _ in SOURCES], "source string")
