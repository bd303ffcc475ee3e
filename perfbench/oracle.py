"""DuckDB oracle signatures for the query-suite workload.

A query result is reduced to one digest: ``tools/validate_oracles.py``'s
order-insensitive ``frame_signature`` (columns sorted by name, rows sorted,
floats at full precision), with numpy scalars turned into plain Python
values, hashed with sha256. A Spark result is correct when its digest
equals the digest of the query's ``ORACLES`` SQL run by DuckDB over the
same files.

Running the oracles takes minutes (the decode mirrors replay Viterbi in
SQL), so digests are cached, keyed by the checksum of every file the
queries read. ``oracle_sf0.01.json`` next to this file holds the digests
for the bundled inputs; any other input is computed once and cached under
the run's work directory.

Run directly to (re)compute the committed cache::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
COMMITTED = os.path.join(HERE, "oracle_sf0.01.json")
ARTIFACT_DIR = os.path.join(
    ROOT, "hmm_crf_ner_fromscratch_spark", "artifacts", "crf_dict_model"
)


def input_key(data_dir: str) -> str:
    """sha256 over the name and bytes of every input file and of the
    committed CRF artifact (two of the oracles read its weights)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    files += sorted(glob.glob(os.path.join(ARTIFACT_DIR, "*")))
    for path in files:
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _plain(v):
    return v.item() if hasattr(v, "item") and not isinstance(v, (str, bytes)) else v


def digest(pdf) -> str:
    """sha256 of the order-insensitive signature of a pandas frame."""
    from tools.validate_oracles import frame_signature

    cols, rows = frame_signature(pdf)
    rows = sorted((tuple(_plain(v) for v in r) for r in rows), key=repr)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def compute(data_dir: str, names: list[str]) -> dict[str, str]:
    """Run each query's DuckDB oracle over ``data_dir``; name -> digest."""
    import duckdb

    from hmm_crf_ner_fromscratch_spark.plans.entry_queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        table = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    out = {}
    for name in names:
        out[name] = digest(con.sql(ORACLES[name]).df())
        print(f"# oracle {name}: {out[name][:12]}", file=sys.stderr, flush=True)
    con.close()
    return out


def expected(data_dir: str, names: list[str], cache_dir: str) -> dict[str, str]:
    """Digests for ``names`` over ``data_dir``: the committed cache when
    the input key matches, else a per-key cache under ``cache_dir``
    (computed on first use)."""
    key = input_key(data_dir)
    for path in (COMMITTED, os.path.join(cache_dir, f"oracle_{key[:16]}.json")):
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                cached = json.load(f)
            if cached["key"] == key and set(names) <= set(cached["digests"]):
                return {n: cached["digests"][n] for n in names}
    digests = compute(data_dir, names)
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"oracle_{key[:16]}.json")
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump({"key": key, "digests": digests}, f, indent=1)
    os.replace(path + ".tmp", path)
    return digests


def main() -> None:
    sys.path.insert(0, ROOT)
    from workloads import QUERY_SUITE

    digests = compute(DATA_DIR, QUERY_SUITE)
    with open(COMMITTED, "w", encoding="utf-8") as f:
        json.dump({"key": input_key(DATA_DIR), "digests": digests}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
