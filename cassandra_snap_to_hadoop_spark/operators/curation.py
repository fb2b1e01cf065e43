"""End-to-end corpus curation funnel (J1+J2+J9 composed).

The canonical training-data pipeline a user of this engine runs over a raw
crawl: quality-gate -> exact dedup -> near-dup prune, reported as a funnel
of survivor counts per stage.  Every stage is the exact tier of an
operator that also has a bucketed scale tier (MinHash replaces the shingle
self-join at 100 TB; the funnel shape is unchanged).

Scale note: Catalyst does not auto-reuse subtrees, so a fully lazy DAG
would re-derive the quality and dedup stages once per downstream consumer
(measured 4.3 s vs 3.4 s at sf0.1).  The funnel therefore
``localCheckpoint``s each stage boundary — the in-engine equivalent of
what a production 100 TB run does by materializing stages to parquet
(streaming/pipelines.py's bronze/silver layering), so every corpus scan
happens once.  Same precedent as ``dup_clusters``' lineage cut.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_snap_to_hadoop_spark.operators.dedup import jaccard_pairs, normalize_text
from cassandra_snap_to_hadoop_spark.operators.text import quality_features


def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.05,
    block_col: str | None = "lang",
    pairs_fn=None,
) -> DataFrame:
    """Returns (stage, n_docs, retained_pct) for the 4 funnel stages.

    Stage semantics (each deterministic, so the DuckDB oracle can mirror
    them value-for-value):

    * ``0_all``        — raw corpus.
    * ``1_quality``    — Gopher-style ``quality_ok`` gate.
    * ``2_exact_dedup``— keep MIN(id) per normalized-content md5.
    * ``3_near_dup``   — keep-first prune: drop any doc having a shingle-
      Jaccard >= threshold pair with a SMALLER surviving id (greedy by id,
      not connected components — the deterministic one-pass rule; cluster
      assembly is ``dup_clusters``' job when representatives matter).

    ``pairs_fn`` swaps the near-dup pair stage: default is the exact
    shingle-Jaccard join (value-checkable against SQL); pass
    ``lambda df: minhash_lsh_pairs(df, id_col, text_col)`` for the
    100 TB tier — identical funnel shape, bucket-bounded candidate cost.

    The quality and exact-dedup stage boundaries are ``localCheckpoint``
    cuts (module docstring).
    """
    # Project to the columns the downstream stages actually read BEFORE the
    # stage-boundary cut (guide §2.3 "project before the exchange"): the
    # quality gate only needs (id, text[, block]) afterwards, so the
    # unused feature columns (digit/space ratios etc.) are pruned out of
    # both the computation and the checkpointed bytes (r11 optimization).
    keep_cols = [id_col, text_col] + ([block_col] if block_col else [])
    quality = (
        quality_features(docs, text_col)
        .filter(F.col("quality_ok") == 1)
        .select(*keep_cols)
        .localCheckpoint()
    )
    survivors = (
        quality.withColumn("__h", F.md5(normalize_text(F.col(text_col))))
        .withColumn("__keep", F.min(id_col).over(__hash_window()))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep")
        .localCheckpoint()
    )
    if pairs_fn is None:
        pairs = jaccard_pairs(
            survivors, id_col, text_col, k=3, threshold=jaccard_threshold, block_col=block_col
        )
    else:
        pairs = pairs_fn(survivors)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    final = survivors.join(dropped, id_col, "left_anti")

    n_total = docs.agg(F.count("*").alias("__n_total"))
    stages = [
        ("0_all", docs),
        ("1_quality", quality),
        ("2_exact_dedup", survivors),
        ("3_near_dup", final),
    ]
    counts = [
        df.agg(F.count("*").alias("n_docs")).select(F.lit(name).alias("stage"), "n_docs")
        for name, df in stages
    ]
    funnel = reduce(lambda a, b: a.unionByName(b), counts)
    return funnel.crossJoin(F.broadcast(n_total)).select(
        "stage",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__n_total"), 4).alias("retained_pct"),
    )


def __hash_window():
    from pyspark.sql.window import Window

    return Window.partitionBy("__h")
