"""MinHash signatures and LSH band candidates, shared by the batch
fuzzy-dedup queries (suite.llm and its callers) and the incremental
streaming dedup (streaming.dedup_incremental).

Everything is deterministic integer arithmetic, written once per engine
dialect, so a DuckDB oracle reproduces the values bit-exactly (a shared
polynomial token hash replaces engine-specific hash functions):

  char-poly:  h(s)     = fold over chars: acc*31 + ascii(c)  (mod P)
  shingle:    h3(a,b,c)= ((h(a)*131 + h(b)) % P * 131 + h(c)) % P
  minhash_i:  (A[i]*h + B[i]) % P,  sig_i = min over shingles

with P = 1,000,000,007. DuckDB's list_reduce seeds with the first
element, Spark's aggregate with 0; identical for these folds since
0*31+c == c.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
MINHASH_B = [101, 103, 107, 109, 113, 127, 131, 137, 139, 149, 151, 157, 163, 167, 173, 179]
N_BANDS, BAND_ROWS = 4, 4  # 16 sigs = 4 bands × 4 rows

# polynomial char hash of a string s (same text, same value, both engines)
_POLY_SPARK = (
    "aggregate(transform(split({s}, ''), c -> ascii(c)), CAST(0 AS BIGINT),"
    " (acc, c) -> (acc * 31 + c) % 1000000007)"
)
_POLY_DUCK = (
    "list_reduce(list_transform(string_split_regex({s}, ''), c -> CAST(ascii(c) AS BIGINT)),"
    " (acc, c) -> (acc * 31 + c) % 1000000007)"
)

# exact distinct 2-gram shingle set over the token hashes `th`
_SH2_DUCK = (
    "list_distinct([(th[i] * 131 + th[i + 1]) % 1000000007"
    " for i in generate_series(1, len(th) - 1)])"
)
_SH2_SPARK = (
    "array_distinct(transform(sequence(1, size(th) - 1),"
    " i -> (element_at(th, i) * 131 + element_at(th, i + 1)) % 1000000007))"
)


def _minhash_sql_parts(dialect: str) -> tuple[str, str]:
    """(shingle-hash list expr over `toks`, sig list expr over `sh`)."""
    if dialect == "spark":
        tok_h = f"transform(toks, t -> {_POLY_SPARK.format(s='t')})"
        sigs = ", ".join(
            f"array_min(transform(sh, h -> ({a} * h + {b}) % 1000000007))"
            for a, b in zip(MINHASH_A, MINHASH_B)
        )
        return tok_h, f"array({sigs})"
    tok_h = f"list_transform(toks, t -> {_POLY_DUCK.format(s='t')})"
    sigs = ", ".join(
        f"list_aggregate(list_transform(sh, h -> ({a} * h + {b}) % 1000000007), 'min')"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return tok_h, f"[{sigs}]"


def sigs_from_docs(docs: DataFrame, with_hs: bool = False) -> DataFrame:
    """MinHash(16) signatures (and optional exact 2-gram shingle sets)
    for any (doc_id, text) frame — the unpersisted core of the suite's
    ``llm._lsh_sigs``, run by the incremental streaming dedup
    (streaming.dedup_incremental) on per-micro-batch frames."""
    tok_h, sig_list = _minhash_sql_parts("spark")
    d = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .withColumn("th", F.expr(tok_h))
        .withColumn(
            "sh",
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> ((element_at(th, i) * 131 + element_at(th, i + 1)) % 1000000007 * 131"
                " + element_at(th, i + 2)) % 1000000007))"
            ),
        )
        .withColumn("sig", F.expr(sig_list))
    )
    cols = ["doc_id", "sig"] + (["hs"] if with_hs else [])
    if with_hs:
        d = d.withColumn("hs", F.expr(_SH2_SPARK))
    return d.select(*cols)


def band_explode(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) rows from a signature table — the LSH
    bucket keys; band_key concatenates the band's 4 signature slots."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.col("sig")[j * BAND_ROWS + r].cast("string")
                        for r in range(BAND_ROWS)
                    ],
                ).alias("band_key"),
            )
            for j in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def _band_pairs(sigs: DataFrame) -> DataFrame:
    """Band-collision candidate pairs (doc_a < doc_b, distinct) from a
    signature table — the LSH candidate generator both fuzzy-dedup
    queries share. Shuffle key = (band_id, band_key); never all-pairs."""
    bands = band_explode(sigs)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
