"""End-to-end KG tests: linking, canonicalization, KBP, checkpoint resume
(FIXTURES.md §7-8; BASELINE.md resumability gate)."""

import os

from pyspark.sql import functions as F

from corenlp_spark.data.synth import synth_docs
from corenlp_spark.operators.coref import coref_docs
from corenlp_spark.operators.entitylink import (
    alias_dict, canonical_entities, link_mentions, minhash_candidates,
)
from corenlp_spark.operators.graph import (
    canonicalize_triples, coref_chains_rows, dedup_triples,
)
from corenlp_spark.operators.kbp import kbp_tokensregex_relations
from corenlp_spark.operators.mentions import mention_rows
from corenlp_spark.plans.pipeline import CheckpointedPipeline, annotate, triples_of

N = 80


def test_entity_linking(spark):
    ann = annotate(synth_docs(spark, N), upto="ner")
    m = mention_rows(ann)
    linked = link_mentions(m, alias_dict(spark))
    rows = {(r.text, r.link) for r in linked.collect()}
    assert ("Barack Obama", "Barack_Obama") in rows or ("Obama", "Barack_Obama") in rows
    assert ("International Business Machines", "IBM") in rows
    # DATE mentions link to their normalized timex value
    assert any(l == "2013-02-21" for _, l in rows)
    # below-threshold alias rejected → company stays unlinked
    assert all(l != "Company_(disambiguation)" for _, l in rows)


def test_minhash_fuzzy_candidates(spark):
    m = spark.createDataFrame(
        [("Barack Hussein Obama",), ("Stanford University",), ("zzz qqq",)],
        "text string",
    ).withColumn("doc_id", F.lit("d")).withColumn("nner", F.lit("")) \
     .withColumn("ner", F.lit("PERSON"))
    cands = minhash_candidates(m, alias_dict(spark))
    got = {(r.text, r.link) for r in cands.collect()}
    assert ("Barack Hussein Obama", "Barack_Obama") in got  # fuzzy hit
    assert ("Stanford University", "Stanford_University") in got  # exact-ish
    assert all(t != "zzz qqq" for t, _ in got)


def test_canonical_entities_salted(spark):
    ann = annotate(synth_docs(spark, N), upto="ner")
    linked = link_mentions(mention_rows(ann), alias_dict(spark))
    ents = canonical_entities(linked, n_salt=8)
    rows = {r.entity_key: r.n_mentions for r in ents.collect()}
    assert rows.get("Barack_Obama", 0) > 0
    # salted two-phase agg must equal the naive single-phase count
    naive = (
        linked.withColumn("entity_key", F.coalesce("link", F.lower("text")))
        .groupBy("entity_key").count()
    )
    diff = (
        ents.join(naive, "entity_key")
        .filter(F.col("n_mentions") != F.col("count")).count()
    )
    assert diff == 0


def test_kbp_relations(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    rels = kbp_tokensregex_relations(ann)
    got = {(r.subj, r.relation, r.obj) for r in rels.collect()}
    assert ("Barack Obama", "per:city_of_birth", "Hawaii") in got
    assert ("Chris Manning", "per:employee_of", "Stanford University") in got
    assert ("IBM", "org:city_of_headquarters", "Armonk") in got
    # type-signature negative: no DATE×DATE relations
    assert all(rel.split(":")[0] in ("per", "org") for _, rel, _ in got)


def test_pronoun_canonicalization(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    t = triples_of(ann)
    chains = coref_chains_rows(ann)
    canon = canonicalize_triples(t, chains)
    # "He was president." after "Barack Obama was born in Hawaii." must
    # produce a (Barack Obama, was, president)-style canonical subject:
    # strictly fewer pronoun-subject rows after canonicalization
    pron = F.lower("subj").isin("he", "she", "it", "they")
    n_before = t.filter(pron).count()
    n_after = canon.filter(pron).count()
    assert canon.count() == t.count()  # row-preserving rewrite
    assert n_after < n_before


def test_pronoun_canonicalization_single_doc(spark):
    import pandas as pd

    from corenlp_spark.data.synth import DOCS_SCHEMA

    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["d1"],
            "spans": [[{"kind": "text",
                        "text": "Barack Obama was born in Hawaii. He was president.",
                        "media_ref": None, "offset": 0}]],
        }),
        schema=DOCS_SCHEMA,
    )
    ann = annotate(docs, upto="coref")
    canon = canonicalize_triples(triples_of(ann), coref_chains_rows(ann))
    got = {(r.subj, r.pred, r.obj) for r in canon.collect()}
    assert ("Barack Obama", "was", "president") in got
    assert ("Barack Obama", "was born in", "Hawaii") in got


def test_dedup_triples(spark):
    ann = annotate(synth_docs(spark, N), upto="coref")
    d = dedup_triples(triples_of(ann))
    rows = d.collect()
    keys = [(r.subj, r.pred, r.obj) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r.support >= 1 and r.n_docs >= 1 for r in rows)


def _kg(df):
    return sorted(map(tuple, dedup_triples(df).collect()))


def test_checkpoint_resume(spark, tmp_path):
    import json

    from corenlp_spark.plans.pipeline import STAGES

    root = str(tmp_path / "ckpt")
    pipe = CheckpointedPipeline(spark, root, partitions=4)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint_resume_fresh", "fresh CheckpointedPipeline.run")
    try:
        t1 = pipe.run(synth_docs(spark, 30))
    finally:
        sc.setJobGroup("checkpoint_resume_rest", "rest of the test")
    stages = [st.name for st in STAGES] + ["triples_raw"]
    # lineage costs no job of its own: at most the write (and the
    # repartition's shuffle) per checkpoint
    jobs = sc.statusTracker().getJobIdsForGroup("checkpoint_resume_fresh")
    assert len(jobs) <= 2 * len(stages), jobs
    n1 = t1.count()
    assert n1 > 0
    # lineage of every stage agrees with what the stage wrote
    for stage in stages:
        n = spark.read.parquet(os.path.join(root, stage)).count()
        with open(os.path.join(root, f"_lineage_{stage}.json")) as f:
            meta = json.load(f)
        assert meta["stage"] == stage and meta["rows"] == n and meta["wall_s"] > 0
        pm = spark.read.parquet(os.path.join(root, f"_metrics_{stage}")).collect()
        assert [r.stage for r in pm] == [stage] * len(pm)
        assert sum(r.rows for r in pm) == n
        assert len({r.partition_id for r in pm}) == len(pm)
    # simulate kill after ner: delete later checkpoints, resume must rebuild
    import shutil

    for stage in ("depparse", "coref", "triples_raw"):
        shutil.rmtree(os.path.join(root, stage), ignore_errors=True)
    pipe2 = CheckpointedPipeline(spark, root, partitions=4)
    t2 = pipe2.run(synth_docs(spark, 30))
    assert t2.count() == n1


def test_null_rows_do_not_kill_a_task(spark, tmp_path):
    """A doc with null spans and a doc whose only span is null pass through
    both drivers of the chain; they yield no triples and leave the other
    docs' KG as it is."""
    from corenlp_spark.data.synth import DOCS_SCHEMA
    from corenlp_spark.plans.fused import extract_triples_fused

    good = synth_docs(spark, 20)
    bad = spark.createDataFrame(
        [("bad-null-spans", None), ("bad-null-span", [None])], DOCS_SCHEMA)
    docs = good.unionByName(bad)
    expected = _kg(extract_triples_fused(good))
    assert expected

    root = str(tmp_path / "ckpt")
    raw = CheckpointedPipeline(spark, root).run(docs)
    ann = spark.read.parquet(os.path.join(root, "coref"))
    assert ann.count() == 22
    fused = extract_triples_fused(docs)
    for triples in (raw, fused):
        assert triples.filter(F.col("doc_id").startswith("bad-")).count() == 0
    assert _kg(canonicalize_triples(raw, coref_chains_rows(ann))) == expected
    assert _kg(fused) == expected
