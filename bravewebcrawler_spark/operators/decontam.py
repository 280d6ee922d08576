"""Benchmark decontamination: flag corpus documents that share k-gram text
with an evaluation/benchmark set — the standard pre-training hygiene step
(the PaLM/GPT-3 papers' "13-gram overlap" rule, here parameterized).

Spark-first shape: the benchmark side is SMALL relative to the corpus (eval
suites are at most ~10^6 documents → ~10^8 distinct shingle hashes), so its
distinct shingle-hash set is broadcast and the 100-TB corpus side is a
map-side explode + broadcast-hash semi-join — the corpus is never shuffled.
Join keys are the portable 60-bit md5 hash (8 bytes instead of the shingle
string) with a string-equality confirm on the joined rows, so a hash
collision can never flag a clean document; the DuckDB oracle reproduces the
identical hash (functions/text.py portable_hash64 twin).

The reference has no corpus hygiene at all (single-pass crawl,
brave_processor.py processes each input row once); this operator exists for
the 100-TB training-data pipeline the engine targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    c_id: str = "doc_id",
    c_text: str = "text",
    b_text: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per contaminated corpus doc: (doc_id, n_hits, example_shingle).

    n_hits counts DISTINCT contaminated k-grams in the document (explode is
    over the doc's distinct shingle set); example_shingle is the
    lexicographically-first hit, for audit trails.
    """
    # Both sides run the dedup ladder's shingle kernel; the corpus id passes
    # through with its own type, so non-integral doc ids group correctly.
    from bravewebcrawler_spark.operators.dedup import exploded_shingle_strings

    bsh = (
        exploded_shingle_strings(
            # the benchmark side needs no per-doc identity — only its global
            # distinct shingle set — so a constant id keeps the helper's
            # (doc, text) contract without assuming an id column exists
            benchmark.select(F.lit(0).alias("_bid"), F.col(b_text).alias("_btext")),
            "_bid",
            "_btext",
            k,
        )
        .select(F.col("sh").alias("b_sh"), "shh")
        .distinct()
    )
    csh = exploded_shingle_strings(corpus, c_id, c_text, k).withColumnRenamed("doc", c_id)
    hits = csh.join(F.broadcast(bsh), "shh").where(F.col("sh") == F.col("b_sh"))
    return hits.groupBy(c_id).agg(
        F.count("*").alias("n_hits"), F.min("sh").alias("example_shingle")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    c_id: str = "doc_id",
    c_text: str = "text",
    b_text: str = "text",
    k: int = 5,
    max_hits: int = 0,
) -> DataFrame:
    """Corpus rows surviving decontamination (≤ max_hits contaminated
    k-grams; 0 = any overlap removes the document). Anti-join shape.

    The flagged-id side is NOT force-broadcast: while eval suites are small,
    the set of contaminated CORPUS doc ids is corpus-sized in the worst case
    (10^8 flagged ids is hundreds of MB — past broadcast/driver limits), so
    the join strategy is left to the optimizer/AQE, which broadcasts when
    the runtime size is actually small and falls back to a shuffled
    anti-join when it is not. Only the benchmark shingle set (bounded by the
    eval suite) is force-broadcast, in :func:`contamination_hits`."""
    flagged = contamination_hits(corpus, benchmark, c_id, c_text, b_text, k).where(
        F.col("n_hits") > max_hits
    )
    return corpus.join(flagged.select(c_id), c_id, "left_anti")
