"""Append-path cost gates that need no reference corpus: building decode
plans runs no Spark job, one ``run_append`` on tiny data runs no stage as
wide as ``spark.sql.shuffle.partitions``, and lineage tables round-trip
through full and delta commits."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from hmm_crf_ner_fromscratch_spark.operators.hmm import decode_hmm, train_hmm
from hmm_crf_ner_fromscratch_spark.operators.mentions import extract_mentions
from hmm_crf_ner_fromscratch_spark.operators.partitioning import fan_out
from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline
from hmm_crf_ner_fromscratch_spark.plans.lineage import (
    _LINEAGE_SCHEMA,
    ParquetManifestTableIO,
)
from hmm_crf_ner_fromscratch_spark.session import local_df
from hmm_crf_ner_fromscratch_spark.sources.transcripts import (
    salted_turns,
    synth_transcripts,
    tokenize_turns,
)

TX_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


@pytest.fixture(scope="module")
def dict_model(spark):
    """HMM trained on a tiny dictionary-labelled corpus: every capitalised
    token of 200 synthetic turns is B-ENT, every other token O."""
    toks = F.split("text", " ")
    sents = synth_transcripts(spark, 200, seed=1, heaps_vocab=2.0).select(
        F.concat_ws("_", "conv_id", "turn_idx").alias("sent_id"),
        toks.alias("tokens"),
        F.transform(
            toks, lambda t: F.when(t.rlike("^[A-Z]"), "B-ENT").otherwise("O")
        ).alias("tags"),
    )
    return train_hmm(sents)


def _parquet(df, path):
    """Hand the pipeline a table the way a CDC feed does: a parquet file."""
    df.coalesce(1).write.parquet(str(path))
    return df.sparkSession.read.parquet(str(path))


def _variants(spark, conv_id):
    # surface variants that normalise to the same key, so linking has pairs
    return local_df(
        spark,
        [
            (conv_id, 0, "user", "police in PARIS told MICHAEL", None, None),
            (conv_id, 1, "assistant", "Michael and Paris", None, None),
        ],
        TX_SCHEMA,
    )


@pytest.fixture
def own_group(spark):
    """Run the test's jobs under a job group of their own; yields its id."""
    sc = spark.sparkContext
    group = f"test-group-{os.getpid()}-{id(sc)}"

    def start():
        sc.setJobGroup(group, group, False)

    yield group, start
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_plan_building_submits_no_jobs(spark, dict_model, tmp_path, own_group):
    """fan_out decides from the planned plan: building the decode and
    mention plans over a shuffled input (the salted turns) runs nothing."""
    tx = _parquet(synth_transcripts(spark, 60, seed=3), tmp_path / "tx")
    salted = salted_turns(tokenize_turns(tx))
    group, start = own_group
    start()
    decoded = decode_hmm(salted, dict_model)
    mentions = extract_mentions(decoded)
    extract_mentions(decoded.join(tx.select("conv_id"), "conv_id", "left_semi"))
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []
    assert mentions.count() > 0


def test_fan_out_exchange_is_reused(spark, tmp_path):
    """Two consumers of one fanned-out single-file scan share one
    round-robin exchange (the scan and shuffle run once)."""
    tx = _parquet(synth_transcripts(spark, 60, seed=3), tmp_path / "tx")
    wide = fan_out(tx)
    assert wide is not tx  # one file: fanned out to the core count
    both = wide.unionByName(wide.withColumn("text", F.upper("text")))
    both.collect()
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_append_stage_widths(spark, dict_model, tmp_path, own_group):
    """No stage of one run_append over kilobytes is as wide as the shuffle
    partition count. The widest stage the pipeline itself plans is the
    salted decode delta (2 x defaultParallelism partitions, salted_turns)
    unioned with one file per retained bucket (at most n_buckets)."""
    sc = spark.sparkContext
    n_buckets = 8
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        base = synth_transcripts(spark, 300, seed=5, heaps_vocab=2.0).unionByName(
            _variants(spark, "base_v")
        )
        edited = base.where(F.col("conv_id") == "conv_00000006").withColumn(
            "text", F.concat("text", F.lit(" Paris"))
        )
        delta = (
            synth_transcripts(spark, 60, seed=6, heaps_vocab=2.0)
            .withColumn("conv_id", F.concat(F.lit("new_"), "conv_id"))
            .unionByName(_variants(spark, "new_v"))
            .unionByName(edited)
        )
        base = _parquet(base, tmp_path / "base")
        delta = _parquet(delta, tmp_path / "delta")
        n_delta_convs = delta.select("conv_id").distinct().count()

        inc = IncrementalKGPipeline(
            spark, str(tmp_path / "state"), dict_model, n_buckets=n_buckets
        )
        inc.run(base)
        group, start = own_group
        start()
        res = inc.run_append(delta)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    assert res.n_changed == n_delta_convs
    # the edited conversation's bucket plus this ingest's generation
    assert len(res.affected_buckets) == 2
    st = sc.statusTracker()
    widths = {}
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            if info is not None:
                widths[stage] = info.numCompletedTasks
    assert widths
    limit = 2 * sc.defaultParallelism + n_buckets
    assert limit < 32
    assert max(widths.values()) <= limit, sorted(widths.values())[-10:]


def _data_files(io, stage):
    pattern = os.path.join(io.base_dir, stage, "data", "**", "*.parquet")
    return sorted(glob.glob(pattern, recursive=True))


def test_lineage_round_trip(spark, tmp_path):
    """io.lineage(stage) keeps the lineage schema and one row per data file
    across a full write, a full bucketed write and a delta commit; files a
    delta commit did not touch keep their run_id, rows and checksum, and
    every row carries the newest snapshot id."""
    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    schema = _parse_datatype_string(_LINEAGE_SCHEMA)

    def lineage(stage):
        lin = io.lineage(stage)
        assert lin.schema == schema
        rows = {r.file: r for r in lin.collect()}
        files = _data_files(io, stage)
        assert sorted(rows) == files
        for f in files:
            assert rows[f].stage == stage
            assert rows[f].rows == pq.ParquetFile(f).metadata.num_rows
        return rows

    snap = io.write(
        "flat", spark.range(0, 100).withColumn("v", F.col("id") * 2).repartition(3),
        ["in:1"], "run0",
    )
    flat = lineage("flat")
    assert sum(r.rows for r in flat.values()) == 100
    assert {(r.run_id, r.snapshot_id) for r in flat.values()} == {("run0", snap)}

    base = spark.range(0, 400).select(
        "id", (F.col("id") % 4).cast("int").alias("bucket")
    )
    s0 = io.write_bucketed("b", base.repartition(2), ["in:1"], "run1", n_buckets=4)
    before = lineage("b")
    assert {(r.run_id, r.snapshot_id) for r in before.values()} == {("run1", s0)}

    # complete new content of bucket 1: its old rows plus ten new ones
    bucket1 = base.where("bucket = 1").unionByName(
        spark.range(1000, 1010).select("id", F.lit(1).alias("bucket"))
    )
    s1 = io.write_bucketed("b", bucket1, ["in:2"], "run2", affected_buckets=[1])
    after = lineage("b")
    assert s1 != s0 and sum(r.rows for r in after.values()) == 410
    assert {r.snapshot_id for r in after.values()} == {s1}
    touched = {f for f in after if f"{os.sep}bucket=1{os.sep}" in f}
    assert touched and {after[f].run_id for f in touched} == {"run2"}
    untouched = set(after) - touched
    assert untouched and untouched <= set(before)
    for f in untouched:
        assert (after[f].run_id, after[f].rows, after[f].checksum) == (
            before[f].run_id, before[f].rows, before[f].checksum,
        )


def test_empty_bucketed_stage_reads_back(spark, tmp_path):
    """A bucketed stage that commits no rows (e.g. link pairs of a corpus
    with no linkable surfaces) commits and reads back as an empty table
    with its schema, full and delta."""
    io = ParquetManifestTableIO(spark, str(tmp_path / "t"))
    empty = spark.range(0).select("id", F.lit(0).alias("bucket"))
    snap = io.write_bucketed("e", empty, ["in:1"], "run0", n_buckets=4)
    assert snap == io.snapshot_id("e")
    back = io.read("e")
    assert back.count() == 0 and back.columns == ["id", "bucket"]
    io.write_bucketed("e", empty, ["in:2"], "run1", affected_buckets=[0])
    assert io.read_buckets("e", [0]).count() == 0
    assert io.manifest("e")["row_count"] == 0
