"""Seeded input generator for the benchmark.

Every table here is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical parquet files. The shape follows the transcript
contract of the package (``conv_id, turn_idx, role, text, tool, ts``) but
the generator is the benchmark's own, so a change to the package's
synthetic source cannot change the benchmark inputs.

* Conversation sizes are long-tailed (log-normal, capped), so a few
  conversations are much larger than the mean.
* Roughly one word in four is an entity-like token ``Ent<id>`` whose id is
  drawn from a vocabulary that grows with the turn index as
  ``HEAPS_K * (i + 1) ** 0.7`` (Heaps' law). A small share of entity
  occurrences are written as case/punctuation variants (``ENT<id>``,
  ``Ent-<id>``) which normalise to the same surface, so entity linking
  has a non-empty link graph to close.
* Dictionary labels: entity-like tokens are ``B-ENT``, every other token
  ``O``. They train the HMM; the decode input carries no labels.
* Append batches hold mostly new conversations plus a fixed share of
  edits to existing ones. An edit adds one turn and is handed over as the
  conversation's complete current turn set, as ``run_append`` requires.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HEAPS_K = 2.0
HEAPS_BETA = 0.7
ENTITY_SHARE = 0.25
VARIANT_SHARE = 0.15  # entity occurrences written as a surface variant
EDIT_SHARE = 0.25  # share of each append batch that edits existing convs
MEAN_CONV_TURNS = 8.0
MAX_CONV_TURNS = 400

ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "calculator", "browser", "sql", "python"], dtype=object)
FILLER = np.array(
    [
        "the", "a", "on", "in", "said", "to", "of", "and", "for", "with",
        "market", "team", "game", "report", "price", "week", "year", "city",
        "group", "bank", "match", "season", "court", "trade", "talks", "told",
        "first", "two", "new", "last", "percent", "million", "government",
        "president", "minister", "police", "company", "shares", "points",
        "query", "table", "order", "window", "stream", "value", "result",
    ],
    dtype=object,
)

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
TRAIN_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("sent_id", pa.int64()),
        ("tokens", pa.list_(pa.string())),
        ("tags", pa.list_(pa.string())),
    ]
)
_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def is_entity(token: str) -> bool:
    """The dictionary: entity-like tokens are the ``Ent<id>`` family."""
    return token[:3].lower() == "ent" and token[-1:].isdigit()


def label(tokens: list[str]) -> list[str]:
    return ["B-ENT" if is_entity(t) else "O" for t in tokens]


def _turn_tokens(rng: np.random.Generator, turn_index: int) -> list[str]:
    n = int(rng.integers(3, 15))
    vocab = max(1, int(HEAPS_K * (turn_index + 1) ** HEAPS_BETA))
    ent = rng.random(n) < ENTITY_SHARE
    words = FILLER[rng.integers(0, len(FILLER), n)].tolist()
    for k in np.nonzero(ent)[0]:
        eid = int(rng.integers(0, vocab))
        r = rng.random()
        if r < VARIANT_SHARE / 2:
            words[k] = f"ENT{eid}"
        elif r < VARIANT_SHARE:
            words[k] = f"Ent-{eid}"
        else:
            words[k] = f"Ent{eid}"
    return words


def _conv_sizes(rng: np.random.Generator, n_turns: int) -> list[int]:
    sizes: list[int] = []
    total = 0
    while total < n_turns:
        s = int(np.clip(rng.lognormal(np.log(MEAN_CONV_TURNS) - 0.5, 1.0), 1, MAX_CONV_TURNS))
        s = min(s, n_turns - total)
        sizes.append(s)
        total += s
    return sizes


def _conv_rows(rng, conv_id: str, n: int, first_turn: int, turn_offset: int) -> list[tuple]:
    rows = []
    for t in range(n):
        g = turn_offset + t
        role = ROLES[int(rng.integers(0, 3))]
        tool = TOOLS[int(rng.integers(0, len(TOOLS)))] if role == "tool" else None
        text = " ".join(_turn_tokens(rng, g))
        ts = _EPOCH + _dt.timedelta(seconds=(g * 7) % 86_400)
        rows.append((conv_id, first_turn + t, role, text, tool, ts))
    return rows


def _frame(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in TRANSCRIPT_SCHEMA]
    return pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(TRANSCRIPT_SCHEMA, cols)},
        schema=TRANSCRIPT_SCHEMA,
    )


def transcripts(seed: int, n_turns: int) -> pa.Table:
    """``n_turns`` turns in long-tailed conversations ``c<seed>_<n>``."""
    rng = np.random.default_rng([seed, 1])
    rows: list[tuple] = []
    for c, size in enumerate(_conv_sizes(rng, n_turns)):
        rows += _conv_rows(rng, f"c{seed}_{c:07d}", size, 0, len(rows))
    return _frame(rows)


def training_labels(seed: int, n_sentences: int) -> pa.Table:
    """Dictionary-labelled sentences for ``train_hmm``."""
    rng = np.random.default_rng([seed, 2])
    toks = [_turn_tokens(rng, 4 * i) for i in range(n_sentences)]
    return pa.table(
        {
            "doc_id": ["train"] * n_sentences,
            "sent_id": list(range(n_sentences)),
            "tokens": toks,
            "tags": [label(t) for t in toks],
        },
        schema=TRAIN_SCHEMA,
    )


class AppendStream:
    """Deterministic sequence of append batches onto a base table.

    Each batch names ``batch_convs`` conversations: ``round(batch_convs *
    EDIT_SHARE)`` existing ones, each handed over as its full turn set plus
    one new turn, and the rest new.
    ``next_batch`` returns the batch and the exact number of conversations
    it adds or edits.
    """

    def __init__(self, seed: int, base: pa.Table, batch_convs: int):
        self.seed = seed
        self.batch_convs = batch_convs
        self.state = base.to_pandas()
        self.n_turns = len(self.state)
        self.k = 0

    def next_batch(self) -> tuple[pa.Table, int]:
        rng = np.random.default_rng([self.seed, 3, self.k])
        n_edit = int(round(self.batch_convs * EDIT_SHARE))
        n_new = self.batch_convs - n_edit
        rows: list[tuple] = []
        for c in range(n_new):
            size = int(np.clip(rng.lognormal(np.log(MEAN_CONV_TURNS) - 0.5, 1.0), 1, 40))
            rows += _conv_rows(rng, f"a{self.seed}_{self.k:05d}_{c:05d}", size, 0, self.n_turns + len(rows))
        convs = self.state["conv_id"].unique()
        edited = sorted(rng.choice(convs, size=n_edit, replace=False).tolist())
        sizes = self.state.groupby("conv_id").size()
        extra: list[tuple] = []
        for cid in edited:
            extra += _conv_rows(rng, cid, 1, int(sizes[cid]), self.n_turns + len(rows) + len(extra))
        added = _frame(rows + extra).to_pandas()
        self.state = pd.concat([self.state, added], ignore_index=True)
        self.n_turns = len(self.state)
        batch = self.state[self.state["conv_id"].isin(set(edited) | set(added["conv_id"]))]
        self.k += 1
        return pa.Table.from_pandas(batch, schema=TRANSCRIPT_SCHEMA, preserve_index=False), n_new + n_edit


def write(table: pa.Table, path: str, n_files: int = 1) -> str:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``
    (written to a temp dir and renamed, so a cached input is never partial)."""
    if os.path.isdir(path):
        return path
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    step = max(1, -(-table.num_rows // n_files))
    for i, start in enumerate(range(0, max(table.num_rows, 1), step)):
        pq.write_table(table.slice(start, step), os.path.join(tmp, f"part-{i:03d}.parquet"))
    os.replace(tmp, path)
    return path
