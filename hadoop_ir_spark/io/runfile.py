"""TREC run-file IO (SURVEY.md §2.1 S9).

The reference emits bare ``qid \\t docno \\t score`` triples
(TrecRun.java:183-189); standard trec_eval wants the 6-column
``qid Q0 docno rank score tag`` form. Both directions provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_run(run: DataFrame, path: str, tag: str = "hadoop_ir_spark",
              single_file: bool = False) -> None:
    """Write a ranked run (qid, docno, score, rank) in 6-col TREC format.

    ``single_file`` coalesces to one part (driver-merge equivalent,
    ClueWebCollectionStats.java:153-177) — only for small runs.
    """
    out = run.select(
        F.concat_ws(" ",
                    F.col("qid"), F.lit("Q0"), F.col("docno"),
                    F.col("rank").cast("string"),
                    F.format_string("%.6f", F.col("score")),
                    F.lit(tag)).alias("value")
    ).orderBy("qid", "rank" if "rank" in run.columns else "docno")
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


def read_run(spark: SparkSession, path: str) -> DataFrame:
    """Read a 6-col TREC run back → (qid, docno, rank, score)."""
    parts = F.split(F.trim("value"), r"\s+")
    return (
        spark.read.text(path)
        .filter(F.trim("value") != "")
        .select(
            parts[0].alias("qid"),
            parts[2].alias("docno"),
            parts[3].cast("int").alias("rank"),
            F.regexp_replace(parts[4], ",", "").cast("double").alias("score"),
        )
    )
