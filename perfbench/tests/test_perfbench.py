"""The benchmark's own tests: spec consistency, a tiny-size smoke run of
every workload (traced and untraced), a corrupted output counted as
failed, append-chain convergence, and the refusal to run outside a
checkout.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark; the whole file takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def bench(*args, cwd=ROOT):
    cmd = [*SPEC["command"], *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p, (json.loads(lines[-1]) if p.returncode == 0 and lines else None)


def test_spec_matches_run_py():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"]) for m in SPEC[key]} == table
    assert "setup_s" in run.END_TO_END


def test_generator_is_seeded():
    a, b, c = gen.transcripts(3, 500), gen.transcripts(3, 500), gen.transcripts(4, 500)
    assert a.equals(b) and not a.equals(c)
    assert a.num_rows == 500
    s1, s2 = gen.AppendStream(3, a, 8), gen.AppendStream(3, a, 8)
    (b1, n1), (b2, n2) = s1.next_batch(), s2.next_batch()
    assert b1.equals(b2) and n1 == n2 == 8
    assert b1.column("conv_id").unique().to_pylist().__len__() == 8


def test_decoded_check_counts_one_flipped_tag():
    import numpy as np

    from hmm_crf_ner_fromscratch_spark.operators.hmm import HMMModel

    model = HMMModel(
        pi=np.log([0.7, 0.3]),
        A=np.log([[0.8, 0.2], [0.6, 0.4]]),
        B=np.log([[0.9, 0.1], [0.2, 0.8]]),
        word_to_idx={"the": 0, "Ent1": 1},
        tag_to_idx={"O": 0, "B-ENT": 1},
        tag_counts={0: 9, 1: 3},
    )
    rows = [(["the", "Ent1", "the"], ["O", "B-ENT", "O"])]
    assert workloads.check_decoded_sample(rows, model) == 0
    assert workloads.check_decoded_sample([(rows[0][0], ["O", "O", "O"])], model) == 1


def test_oracle_digest_is_order_insensitive_and_value_sensitive():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    assert oracle.digest(a) == oracle.digest(a.iloc[::-1][["y", "x"]])
    b = a.copy()
    b.loc[0, "y"] = "z"
    assert oracle.digest(a) != oracle.digest(b)


def test_committed_oracle_cache_matches_inputs():
    with open(oracle.COMMITTED, encoding="utf-8") as f:
        cached = json.load(f)
    assert cached["key"] == oracle.input_key(oracle.DATA_DIR)
    assert set(cached["digests"]) == set(workloads.QUERY_SUITE)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_every_metric(workload, trace):
    p, res = bench("--workload", workload, "--seed", "5", "--seconds", "1",
                   "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for m in spec:  # the stderr table shows name, unit and direction
        assert f"{m['better']} is better" in p.stderr
        assert f"# {m['name']}" in p.stderr
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


# one flipped tag in what the append check compares with the driver-side
# Viterbi; the benchmark's own code is not touched
FLIP_ONE_TAG = """
import sys
sys.path[:0] = [{bench!r}, {root!r}]
import run, workloads
real = workloads.check_decoded_sample
def flipped(rows, model):
    tokens, tags = rows[0]
    tags = ["O" if tags[0] != "O" else "B-ENT", *tags[1:]]
    return real([(tokens, tags), *rows[1:]], model)
workloads.check_decoded_sample = flipped
sys.argv = ["run.py", *sys.argv[1:]]
run.main()
"""


def test_one_corrupted_output_is_counted():
    code = FLIP_ONE_TAG.format(bench=BENCH_DIR, root=ROOT)
    cmd = [sys.executable, "-c", code, "--workload", "append_ingest", "--seed", "6",
           "--seconds", "1", "--trace", "0", "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1


# the stages whose snapshot ids plans/incremental.py promises to converge;
# triple_counts / nodes / edges carry a capped provenance sample that may
# keep pointers into superseded turns, so for the graph the edge set
# (src, pred, dst, weight) is compared instead
CONVERGENT = ("decoded", "mentions", "triples", "candidates", "link_pairs")


def test_append_chain_converges_to_one_shot(tmp_path):
    """The workload's append chain (base load + two batches) lands on the
    snapshot ids and edge set of one ``run`` over the final input."""
    from argparse import Namespace

    from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline
    from hmm_crf_ner_fromscratch_spark.session import get_spark

    ctx = run.Ctx(Namespace(seed=7, size="tiny", workload="append_ingest", trace=0))
    wl = workloads.AppendIngest(ctx)
    wl.prepare()
    wl.spark = spark = get_spark(app_name="perfbench-converge")
    try:
        wl.setup(tracer.Tracer())
        for i in range(2):
            assert wl.check(wl.op(i))
        final = spark.read.parquet(wl.base_path)
        for path, _expected, _rows, _tokens in wl.batches[: wl.next]:
            batch = spark.read.parquet(path)
            final = final.join(batch.select("conv_id").distinct(), "conv_id", "left_anti").unionByName(batch)
        oneshot = IncrementalKGPipeline(spark, str(tmp_path), wl.model, n_buckets=wl.n_buckets)
        res = oneshot.run(final)

        def edges(io):
            return {(r.src, r.pred, r.dst, r.weight) for r in io.read("edges").collect()}

        for stage in CONVERGENT:
            assert wl.pipe.io.snapshot_id(stage) == res.snapshots[stage], stage
        assert edges(wl.pipe.io) == edges(oneshot.io)
    finally:
        spark.stop()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p, res = bench("--workload", "append_ingest", "--seed", "1", "--seconds", "1",
                   "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0 and res is None
    assert "{" not in p.stdout
