"""Graph materialization: canonicalized triples + entities tables.

Behavioral reference (re-expressed):
  - coref canonicalization of triple arguments (replace pronoun subjects with
    the representative mention of their chain): ``naturalli/OpenIE.java:393-437,
    510-553``;
  - triple dedup keeps the max-confidence distinct triple
    (``naturalli/OpenIE.annotate`` semantics, SURVEY.md §2.4);
  - output tables = the engine's serving layer (the analog of the protobuf
    sink ``pipeline/ProtobufAnnotationSerializer.java``): ``triples`` and
    ``entities``.

Spark shape: one join against the exploded coref chains (doc-partitioned,
narrow-ish — same key as the docs partitioning), then a global
``groupBy(subj, pred, obj)`` dedup, the pipeline's only unavoidable wide
shuffle; AQE coalesces/splits it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def coref_chains_rows(df: DataFrame) -> DataFrame:
    """docs(+coref) → exploded chain rows."""
    return df.select("doc_id", F.explode("coref").alias("m")).select(
        "doc_id",
        F.col("m.cluster_id").alias("cluster_id"),
        F.col("m.sent_idx").alias("sent_idx"),
        F.col("m.start_tok").alias("start_tok"),
        F.col("m.end_tok").alias("end_tok"),
        F.col("m.text").alias("text"),
        F.col("m.kind").alias("kind"),
        F.col("m.representative").alias("representative"),
    )


def canonicalize_triples(triples: DataFrame, chains: DataFrame) -> DataFrame:
    """Replace pronoun subjects with their chain's representative mention."""
    pron = chains.filter(F.col("kind") == "pronoun").select(
        F.col("doc_id").alias("p_doc"), F.col("cluster_id").alias("p_cluster"),
        F.col("sent_idx").alias("p_sent"),
        F.col("start_tok").alias("p_start"), F.col("end_tok").alias("p_end"),
    )
    rep = chains.filter(F.col("representative")).select(
        F.col("doc_id").alias("r_doc"), F.col("cluster_id").alias("r_cluster"),
        F.col("text").alias("rep_text"), F.col("kind").alias("rep_kind"),
    )
    joined = (
        triples.join(
            pron,
            (triples.doc_id == pron.p_doc) & (triples.sent_idx == pron.p_sent)
            & (triples.subj_head >= pron.p_start) & (triples.subj_head < pron.p_end),
            "left",
        )
        .join(
            rep,
            (F.col("p_doc") == rep.r_doc) & (F.col("p_cluster") == rep.r_cluster),
            "left",
        )
        .withColumn(
            "subj_canonical",
            F.when(
                F.col("rep_text").isNotNull() & (F.col("rep_kind") != "pronoun"),
                F.col("rep_text"),
            ).otherwise(F.col("subj")),
        )
        .select(
            "doc_id", "sent_idx",
            F.col("subj_canonical").alias("subj"),
            "pred", "obj", "confidence", "subj_head", "obj_head",
        )
    )
    return joined


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Global KG view: distinct (subj, pred, obj) with max confidence +
    support count. The single wide shuffle of the pipeline."""
    return (
        triples.groupBy(
            F.lower("subj").alias("subj"),
            F.lower("pred").alias("pred"),
            F.lower("obj").alias("obj"),
        )
        .agg(
            F.max("confidence").alias("confidence"),
            F.count("*").alias("support"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )

