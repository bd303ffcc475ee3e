"""The benchmark's workloads: input preparation, set-up, one operation,
and the correctness check of each operation's output.

Each workload is a class with

* ``prepare()``: make the inputs from the seed (outside all timing);
* ``setup()``: everything a user pays before the first operation
  (``train_hmm``, the base load, a warm-up query);
* ``op(i)``: one timed operation, returning what ``check`` needs;
* ``check(out)``: ``True`` when the output is correct (untimed);
* ``rows``: input rows one operation processes (turns, or documents
  for the query suite);
* ``stored_bytes()`` / ``stored_rows()``: bytes kept after the last
  operation (on disk, or the suite's results in memory), and the input
  rows they hold.
"""

from __future__ import annotations

import os
import random
import sys
import time

import gen
import oracle

# Left out of the suite to keep a run short (see README.md): the kg_*
# queries, whose layers the append measures; dedup_minhash, whose plan
# dedup_groups runs in full; dict_mentions, whose operator the append runs.
QUERY_SUITE = [
    "hmm_decode_dict",
    "crf_decode_fixed",
    "transformer_decode",
    "dedup_groups",
    "sim_topk",
]

# sizes per --size; "tiny" is the smoke-test size
SIZES = {
    "full": {"base_turns": 2_000, "batch_convs": 20, "train_sents": 1_000},
    "tiny": {"base_turns": 400, "batch_convs": 6, "train_sents": 500},
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def check_decoded_sample(rows, model) -> int:
    """Number of decoded turns whose tags differ from
    ``functions.viterbi.viterbi_single`` run on the driver with the
    model's matrices (unknown words take the model's unk column)."""
    import numpy as np

    from hmm_crf_ner_fromscratch_spark.functions.viterbi import viterbi_single

    b_ext = model.b_extended()
    bad = 0
    for tokens, tags in rows:
        tokens = list(tokens)
        if not tokens:
            bad += bool(len(tags))
            continue
        idx = np.array([model.word_to_idx.get(w, -1) for w in tokens], dtype=np.int64)
        path = viterbi_single(b_ext[:, idx].T, model.pi, model.A)
        want = [model.idx_to_tag[int(k)] for k in path]
        bad += list(tags) != want
    return bad


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.size = SIZES[ctx.size]
        self.rows = 0

    def stored_rows(self) -> int:
        return self.rows

    def fresh_dir(self, tag: str) -> str:
        path = os.path.join(self.ctx.run_dir, f"{tag}-{time.time_ns()}")
        os.makedirs(path)
        return path


class QuerySuite(Workload):
    """One pass over ``QUERY_SUITE`` on the bundled sf0.01 tables, in a
    seed-permuted order, each result fully materialized with
    ``toPandas`` (``count()`` would let the optimizer prune columns).
    The suite writes no table, so what it keeps is its results: their
    in-memory bytes are its stored bytes."""

    name = "query_suite"

    def prepare(self):
        self.data_dir = oracle.DATA_DIR
        self.order = list(QUERY_SUITE)
        random.Random(self.ctx.seed).shuffle(self.order)
        self.expected = oracle.expected(
            self.data_dir, QUERY_SUITE, os.path.join(self.ctx.work_dir, "oracle-cache")
        )
        import pyarrow.parquet as pq

        self.rows = pq.ParquetFile(os.path.join(self.data_dir, "documents.parquet")).metadata.num_rows
        self.query_s: dict[str, list] = {q: [] for q in QUERY_SUITE}
        self.stored = 0  # set by check(); stays 0 if no pass completes

    def setup(self, tracer):
        from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

        # one query that trains and decodes pays the session's JIT,
        # codegen and python worker start; a whole cold pass would add
        # about 10 s to every run
        QUERIES["hmm_decode_dict"](self.spark, self.data_dir).toPandas()

    def op(self, i):
        from hmm_crf_ner_fromscratch_spark.plans.entry_queries import QUERIES

        out = {}
        for name in self.order:
            with self.ctx.tracer.span(f"query:{name}"):
                t0 = time.perf_counter()
                out[name] = QUERIES[name](self.spark, self.data_dir).toPandas()
                self.query_s[name].append(time.perf_counter() - t0)
        return out

    def check(self, out) -> bool:
        self.stored = sum(int(pdf.memory_usage(index=False, deep=True).sum()) for pdf in out.values())
        ok = True
        for name, pdf in out.items():
            if oracle.digest(pdf) != self.expected[name]:
                print(f"# query_suite: {name} differs from its oracle", file=sys.stderr)
                ok = False
        return ok

    def stored_bytes(self) -> int:
        return self.stored


class AppendIngest(Workload):
    """One ``IncrementalKGPipeline.run_append`` of a small batch (75% new
    conversations, 25% edits handed over as full turn sets) onto a state
    built in set-up by one full load (``run``) of the base table. The base
    load runs the same operators and commits, so it is the warm-up."""

    name = "append_ingest"
    n_buckets = 8  # the base state is small; 64 buckets would be mostly empty
    max_ops = 12

    def prepare(self):
        c, s = self.ctx, self.size
        base = os.path.join(c.input_dir, f"seed{c.seed}")
        tx = gen.transcripts(c.seed, s["base_turns"])
        self.base_path = gen.write(tx, f"{base}-base{s['base_turns']}", n_files=c.cores)
        self.train_path = gen.write(
            gen.training_labels(c.seed, s["train_sents"]), f"{base}-train{s['train_sents']}"
        )
        stream = gen.AppendStream(c.seed, tx, s["batch_convs"])
        self.batches = []
        for k in range(self.max_ops):
            table, expected = stream.next_batch()
            path = f"{base}-base{s['base_turns']}-batch{s['batch_convs']}x{k}"
            tokens = sum(len(t.split()) for t in table.column("text").to_pylist())
            self.batches.append((gen.write(table, path), expected, table.num_rows, tokens))
        self.last_result = None

    def setup(self, tracer):
        from hmm_crf_ner_fromscratch_spark.operators.hmm import train_hmm
        from hmm_crf_ner_fromscratch_spark.plans.incremental import IncrementalKGPipeline

        with tracer.span("setup:hmm.train"):
            self.model = train_hmm(self.spark.read.parquet(self.train_path))
        self.state_dir = self.fresh_dir("state")
        self.pipe = IncrementalKGPipeline(
            self.spark, self.state_dir, self.model, n_buckets=self.n_buckets
        )
        self.pipe.run(self.spark.read.parquet(self.base_path))
        self.next = 0

    def op(self, i):
        if self.next >= len(self.batches):
            raise RuntimeError("append batches exhausted; raise max_ops")
        self.batch_path, self.expected, self.rows, self.tokens = self.batches[self.next]
        self.next += 1
        self.last_result = self.pipe.run_append(self.spark.read.parquet(self.batch_path))
        return self.last_result

    def check(self, res) -> bool:
        """``n_changed`` is what the generator added or edited, and every
        committed ``decoded`` turn of the batch's conversations has exactly
        the tags of the driver-side Viterbi."""
        if res.n_changed != self.expected:
            return False
        batch = self.spark.read.parquet(self.batch_path).select("conv_id").distinct()
        rows = [
            (r.tokens, list(r.tags_pred))
            for r in self.pipe.io.read("decoded").join(batch, "conv_id", "left_semi")
            .select("tokens", "tags_pred").collect()
        ]
        return len(rows) == self.rows and check_decoded_sample(rows, self.model) == 0

    def stored_bytes(self) -> int:
        return dir_bytes(self.state_dir)

    def stored_rows(self) -> int:
        return self.pipe.io.manifest("decoded")["row_count"]


WORKLOADS = {w.name: w for w in (AppendIngest, QuerySuite)}
