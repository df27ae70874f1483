"""North-rule invariants: per-turn text equality, partition-count
determinism, checkpoint resume (SURVEY.md §5.2 items 2, 5)."""

import pytest
from pyspark.sql import functions as F


def test_per_turn_text_equality(spark, pipeline, transcripts_df, transcripts_pdf):
    """Reassembled turn text == input text under stable ordering: the ingest
    stage must preserve every kept turn's text byte-for-byte (empty anti-join
    both ways against the expected dedup of the input)."""
    from tcmkg.pipeline.extract import ingest

    out = ingest(transcripts_df).select("conv_id", "turn_idx", "text")

    # expected: min-(ts,text) row per (conv_id, turn_idx), computed in pandas
    pdf = transcripts_pdf.sort_values(["conv_id", "turn_idx", "ts", "text"])
    expected = pdf.groupby(["conv_id", "turn_idx"], as_index=False).first()[
        ["conv_id", "turn_idx", "text"]
    ]
    exp_df = spark.createDataFrame(expected)

    on = ["conv_id", "turn_idx", "text"]
    assert out.join(exp_df, on, "left_anti").count() == 0
    assert exp_df.join(out, on, "left_anti").count() == 0
    assert out.count() == exp_df.count()


def test_determinism_across_partitionings(pipeline, transcripts_df):
    """Same triple set regardless of input partitioning (stand-in for the
    local[8] vs local[32] identity, which bench_scaling.py exercises with
    real separate sessions)."""
    t3 = pipeline.triples(transcripts_df.repartition(3)).collect()
    t17 = pipeline.triples(transcripts_df.repartition(17)).collect()
    s3 = {(r.subj, r.pred, r.obj) for r in t3}
    s17 = {(r.subj, r.pred, r.obj) for r in t17}
    assert s3 == s17
    w3 = sorted((r.subj, r.pred, r.obj, None if r.weight is None else round(r.weight, 9)) for r in t3)
    w17 = sorted((r.subj, r.pred, r.obj, None if r.weight is None else round(r.weight, 9)) for r in t17)
    assert w3 == w17


def test_checkpoint_resume(tmp_path, spark, pipeline, transcripts_df, golden_triples):
    """Kill-and-resume: run stage 1 only, then a fresh run must reuse the
    checkpoint (manifest hit) and produce the identical final triple set."""
    ckpt = str(tmp_path / "ckpt")

    # partial run: materialize only the mentions stage
    from tcmkg.pipeline.checkpoints import CheckpointStore

    store = CheckpointStore(ckpt)
    store.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
    )
    assert store.has("s1_mentions")

    # resume: full run over the same checkpoint dir
    out = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    got = {(r.subj, r.pred, r.obj) for r in out["triples"].collect()}
    want = {(s, p, o) for s, p, o, _ in golden_triples}
    assert got == want

    # second resume reads everything from the manifest (no recompute path)
    store2 = CheckpointStore(ckpt)
    assert store2.has("s2_triples") and store2.has("s3_nodes") and store2.has("s4_metrics")
    out2 = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    got2 = {(r.subj, r.pred, r.obj) for r in out2["triples"].collect()}
    assert got2 == got


_RUN_STAGES = ("s1_mentions", "s2_triples", "s3_nodes", "s4_metrics")


@pytest.fixture(scope="module")
def checkpointed_run(tmp_path_factory, pipeline, transcripts_df):
    ckpt = str(tmp_path_factory.mktemp("flat"))
    return ckpt, pipeline.run(transcripts_df, checkpoint_dir=ckpt)


def test_stage_tables_flat(spark, pipeline, transcripts_df, checkpointed_run):
    """run()'s stage tables are flat resume points: no Hive `key=value`
    directories, at most one mention file per kernel task, the columns of
    the unpartitioned frames, and a resumed run returns identical rows."""
    import os

    ckpt, out = checkpointed_run
    for stage in _RUN_STAGES:
        for d, subdirs, _ in os.walk(os.path.join(ckpt, stage)):
            assert not [x for x in subdirs if "=" in x], (stage, d, subdirs)
    files = [f for f in os.listdir(os.path.join(ckpt, "s1_mentions"))
             if f.endswith(".parquet")]
    assert 0 < len(files) <= 2 * spark.sparkContext.defaultParallelism
    assert set(out["mentions"].columns) == set(pipeline.mentions(transcripts_df).columns)
    assert set(out["triples"].columns) == {"subj", "pred", "obj", "weight"}

    def rows(df):
        return sorted(tuple(r) for r in df.select("subj", "pred", "obj", "weight").collect())

    again = pipeline.run(transcripts_df, checkpoint_dir=ckpt)
    assert rows(again["triples"]) == rows(out["triples"])


def test_manifest_records_stage_layout(checkpointed_run):
    """Every run() stage's manifest entry records the written table's data
    files and bytes, so a small-file regression shows in the manifest."""
    import json
    import os

    ckpt, _ = checkpointed_run
    with open(os.path.join(ckpt, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    for stage in _RUN_STAGES:
        assert manifest[stage]["files"] > 0, stage
        assert manifest[stage]["bytes"] > 0, stage


def test_cli_build_prints_stage_layout(tmp_path, capsys, transcripts_df, checkpointed_run):
    """`python -m tcmkg build` reports each checkpoint stage's files/bytes
    from the manifest (here resuming every stage of an existing run)."""
    import json

    from tcmkg.__main__ import main

    ckpt, _ = checkpointed_run
    src = str(tmp_path / "in")
    transcripts_df.write.parquet(src)
    main(["build", "--input", src, "--output", str(tmp_path / "out"), "--checkpoint", ckpt])
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(status["checkpoints"]) == set(_RUN_STAGES)
    assert all(e["files"] > 0 and e["bytes"] > 0 for e in status["checkpoints"].values())


def test_metrics_table(tmp_path, spark, pipeline, transcripts_df):
    out = pipeline.run(transcripts_df, checkpoint_dir=str(tmp_path / "m"))
    metrics = {(r.metric, r.key): r.value for r in out["metrics"].collect()}
    preds = {k for (m, k) in metrics if m == "triples_per_pred"}
    assert "formula_contains_herb" in preds
    total = sum(v for (m, _), v in metrics.items() if m == "triples_per_pred")
    assert total == out["triples"].count()
    # A2 quality row is always present (0 when every pair's doses agree)
    assert ("numeric_tolerance_violations", "contains_amt") in metrics


def test_tolerance_violation_metric(tmp_path, spark, pipeline):
    """A planted (formula, herb) pair dosed 三钱 then 一两 (9.375g vs 31.25g,
    far beyond rel_tol=0.2) must surface in the quality-metrics table; a
    same-dose control pair must not."""
    import datetime

    rows = [
        ("c1", 0, "assistant", "四物汤：甘草三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("c1", 1, "assistant", "四物汤：甘草一两。", None,
         datetime.datetime(2024, 1, 1, 0, 1, 0)),
        ("c2", 0, "assistant", "四物汤：人参三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 2, 0)),
        ("c2", 1, "assistant", "四物汤：人参三钱。", None,
         datetime.datetime(2024, 1, 1, 0, 3, 0)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    out = pipeline.run(df, checkpoint_dir=str(tmp_path / "tol"))
    metrics = {(r.metric, r.key): r.value for r in out["metrics"].collect()}
    assert metrics[("numeric_tolerance_violations", "contains_amt")] == 1.0


def test_nodes_table(pipeline):
    nodes = pipeline.nodes_table()
    pdf = nodes.toPandas()
    assert set(pdf.entity_type.unique()) == {
        "herb", "formula", "symptom", "syndrome", "disease",
        # dimension families (fixtures/dimensions.py vocabularies)
        "property", "flavour", "tropism", "toxicity", "pharm_class",
        # derived-entity families (r5: reference TMIN/TMGE tables)
        "ingredient", "target",
        # locus entities (r5: reference TMLC table, merge_tcm_symptom.py)
        "locus",
        # gene-side families (late r5: reference TMPW/TMBP/TMCC/TMMF
        # tables, extract_other_entities.py)
        "pathway", "bioprocess", "cellcomp", "molfunction",
        # side-effect family (TMSE, extract_other_entities.py:436-496)
        "sideeffect",
        # 20/20 entity parity (r5 session 3): anatomy TMAT gazetteer
        # (extract_other_entities.py:276-324) + mm_symptom TMMS
        # (extract_mm_symmptom.py)
        "anatomy", "mm_symptom",
    }
    # dimension nodes carry [zh, en] names with reference-scheme ids
    assert (pdf.entity_type == "tropism").sum() == 12
    # hot herb merged: its canonical entity carries all alias names
    hot = pdf[pdf.names.apply(lambda ns: "甘草" in list(ns))]
    assert len(hot) == 1
    assert {"国老", "甜草根", "粉草", "乌拉尔甘草", "甘草"} <= set(hot.iloc[0]["names"])
    # canonical ids unique
    assert pdf.canonical_id.is_unique


def test_checkpoint_recovers_from_torn_write(tmp_path, spark, pipeline, transcripts_df):
    """A stage directory without _SUCCESS (torn write / killed job) must be
    recomputed even if the manifest says complete — resume is crash-safe."""
    import os
    import shutil

    from tcmkg.pipeline.checkpoints import CheckpointStore

    ckpt = str(tmp_path / "torn")
    store = CheckpointStore(ckpt)
    store.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
    )
    n_before = store.read(spark, "s1_mentions").count()
    # simulate the torn write: data dir half-gone, manifest still claims done
    os.remove(os.path.join(ckpt, "s1_mentions", "_SUCCESS"))
    assert not store.has("s1_mentions")
    store2 = CheckpointStore(ckpt)
    assert not store2.has("s1_mentions")
    shutil.rmtree(os.path.join(ckpt, "s1_mentions"))
    df = store2.run_stage(
        spark, "s1_mentions", lambda: pipeline.mentions(transcripts_df),
    )
    assert df.count() == n_before


def test_gazetteer_canon_checkpoint(tmp_path, spark, gazetteers):
    """Second-session construction resumes from the canon stage tables: the
    manifest is hit for every entity type and the resumed pipeline's alias
    maps and node tables equal the computing run's."""
    import os

    from tcmkg.pipeline.checkpoints import CheckpointStore
    from tcmkg.pipeline.runner import KGPipeline, _gaz_fingerprint

    d = str(tmp_path / "canon")
    p1 = KGPipeline(spark, gazetteers, canon_dir=d)  # computes + writes
    store = CheckpointStore(os.path.join(d, _gaz_fingerprint(gazetteers)))
    etypes = ("herb", "formula", "symptom", "syndrome", "disease")
    assert all(store.has(f"{k}_{e}") for k in ("alias", "nodes") for e in etypes)

    p2 = KGPipeline(spark, gazetteers, canon_dir=d)  # resumes
    assert p2.maps == p1.maps
    n1 = {tuple(sorted(r["names"])) + (r["canonical_id"], r["entity_type"])
          for r in p1.nodes_table().collect()}
    n2 = {tuple(sorted(r["names"])) + (r["canonical_id"], r["entity_type"])
          for r in p2.nodes_table().collect()}
    assert n1 == n2


def test_unlinked_diagnostics_and_soft_link(spark, pipeline, transcripts_df):
    """Tier-3 linking: unresolved mentions surface as diagnostics (the
    reference's unrecorded-herb counter) and the embedding soft-linker
    resolves near-miss variants of real names above threshold."""
    from tcmkg.pipeline.linking import soft_link, unlinked_mentions

    mentions = pipeline.mentions(transcripts_df)
    unlinked = unlinked_mentions(mentions)
    toks = {r["token"] for r in unlinked.collect()}
    # fixture plants 甘草霜 / 红参须 / 假黄芪 as unlinkable prescription tokens
    assert "甘草霜" in toks

    linked = soft_link(spark, unlinked, pipeline.maps["herb"], threshold=0.6)
    got = {r["token"]: (r["canonical_id"], r["matched_alias"], r["sim"])
           for r in linked.collect()}
    # trigram-similar variant resolves to the true herb's canonical entity
    from tcmkg.kernels.normalize import text_norm
    assert got["甘草霜"][0] == pipeline.maps["herb"][text_norm("甘草")]
    assert got["甘草霜"][2] >= 0.6
    # every soft link must clear the threshold
    assert all(sim >= 0.6 for _, _, sim in got.values())


def test_materialize_graph_bucketed(spark, pipeline, transcripts_df):
    """Materialized node/edge tables are co-located: the subj = canonical_id
    join plans zero data exchanges with broadcast disabled."""
    import re

    tables = pipeline.materialize_graph(pipeline.triples(transcripts_df), buckets=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        e = spark.table(tables["edges"])
        n = spark.table(tables["nodes"])
        j = e.join(n, e.subj == n.canonical_id).select("subj", "pred", "obj", "entity_type")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
        # every edge subject resolves to a node of the right type
        assert j.count() == e.count()
        assert e.join(n, e.subj == n.canonical_id, "left_anti").count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_stage_resume_schema_guard(tmp_path, spark):
    """A stage table written by an older code version (missing an expected
    column) must recompute instead of resuming."""
    from pyspark.sql import functions as F

    from tcmkg.pipeline.checkpoints import CheckpointStore

    store = CheckpointStore(str(tmp_path / "sg"))
    old = spark.range(5).select(F.col("id").alias("a"))
    store.write(old, "s")
    new = spark.range(5).select(F.col("id").alias("a"), F.lit(1).alias("b"))
    # without the guard: resumes the old (a-only) table
    assert store.run_stage(spark, "s", lambda: new).columns == ["a"]
    # with the guard: recomputes and persists the new schema
    got = store.run_stage(spark, "s", lambda: new, expect_cols=["b"])
    assert set(got.columns) == {"a", "b"}
    assert set(store.read(spark, "s").columns) == {"a", "b"}
