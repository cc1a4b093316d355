"""Seeded, untimed input generator for the benchmark workloads.

Every workload's inputs derive from the three sf0.1 tables vendored under
`data/sf0.1` (byte copies of the seed-42 test tables the catalog's oracles
run on; `data/SHA256SUMS` pins them). Per (scale, seed) it builds:

- `events.parquet`, `nation.parquet`, `documents.parquet`: the raw tables
  the catalog's DuckDB oracle SQL reads, re-keyed by the seed (DuckDB);
- `lake/events/date=YYYY-MM-DD/`, `lake/geo/`: the reference-shaped,
  date-partitioned lake `Pipeline.runArgs` reads. The caller's `stage`
  function writes it from the raw tables (`run.py` runs the harness's
  stage mode, the q75 catalog face's staging);
- `manifest.json`: input row counts and on-disk bytes.

Re-keying keeps the oracle SQL applicable unchanged and the work per seed
nearly constant:

- user ids are permuted inside their residue class mod 100 (so the
  derivation's `user_id % 25` city and `user_id % 20` channel stay with the
  user; who messages whom changes);
- doc ids move by a seeded multiple of 1e6 (the `doc_id % 10` split of q76
  is kept; the hash-keyed train/val/test split of q73 changes).

Seed 0 is the identity: it reproduces the vendored tables. A scale of K
replicas unions K id-offset copies of sf0.1 the way the sf1 generator in
`scripts/gen_sf1.py` builds them (user ids + k*1e6, event ids + k*1e8),
each replica with its own seeded permutation.
"""
import hashlib
import json
import os
import random
import shutil

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
SRC = os.path.join(HERE, "data", "sf0.1")


def _user_map(con, seed, replicas):
    """(replica, old user id) -> new user id, a permutation of each replica's
    ids that keeps every id's residue mod 100."""
    ids = [r[0] for r in con.execute(
        f"SELECT DISTINCT user_id FROM '{SRC}/events.parquet' ORDER BY 1"
    ).fetchall()]
    ks, olds, news = [], [], []
    for k in range(replicas):
        by_res = {}
        for u in ids:
            by_res.setdefault(u % 100, []).append(u // 100)
        for res, qs in sorted(by_res.items()):
            perm = list(qs)
            if seed != 0:
                random.Random(f"graft-bench:{seed}:{k}:{res}").shuffle(perm)
            for q_old, q_new in zip(qs, perm):
                ks.append(k)
                olds.append(q_old * 100 + res)
                news.append(q_new * 100 + res)
    return pa.table({"k": pa.array(ks, pa.int64()),
                     "old_id": pa.array(olds, pa.int64()),
                     "new_id": pa.array(news, pa.int64())})


def _parquet_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _build(dst, replicas, seed, stage, with_docs):
    con = duckdb.connect()
    # one thread: the written files (and so every scan's splits) are the
    # same on every build
    con.execute("SET threads TO 1")
    man = {"seed": seed, "replicas": replicas}
    if stage:
        man.update(_events(con, dst, replicas, seed))
        stage(dst)
        man["lake_bytes"] = _parquet_bytes(f"{dst}/lake")
    if with_docs:
        off = (seed % 1000) * 1000000
        con.execute(f"""COPY (SELECT doc_id + {off} AS doc_id, text, lang,
                          source, n_chars
                        FROM '{SRC}/documents.parquet' ORDER BY doc_id)
                        TO '{dst}/documents.parquet' (FORMAT PARQUET)""")
        man["documents_rows"] = con.execute(
            f"SELECT count(*) FROM '{dst}/documents.parquet'").fetchone()[0]
        man["documents_bytes"] = os.path.getsize(f"{dst}/documents.parquet")
    con.close()
    return man


def _events(con, dst, replicas, seed):
    """The raw events and nation tables the lake is staged from."""
    con.register("umap", _user_map(con, seed, replicas))
    parts = " UNION ALL ".join(f"""
      SELECT e.event_id + {k * 100000000} AS event_id, e.ts,
             m.new_id + {k * 1000000} AS user_id,
             e.event_type, e.value, e.props
      FROM '{SRC}/events.parquet' e
      JOIN umap m ON m.k = {k} AND m.old_id = e.user_id""" for k in range(replicas))
    con.execute(f"COPY ({parts} ORDER BY event_id) TO "
                f"'{dst}/events.parquet' (FORMAT PARQUET)")
    shutil.copyfile(f"{SRC}/nation.parquet", f"{dst}/nation.parquet")
    return {"events_rows": con.execute(
                f"SELECT count(*) FROM '{dst}/events.parquet'").fetchone()[0],
            "events_bytes": os.path.getsize(f"{dst}/events.parquet")}


def ensure(cache_root, replicas, seed, stage, with_docs):
    """Return (fixture dir, manifest), built once per key. `stage(dir)`
    writes the lake into a fixture directory (None: no lake). The key holds
    a hash of this file, so a changed derivation is rebuilt."""
    with open(__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()[:12]
    name = (f"r{replicas}-s{seed}-{'l' if stage else ''}"
            f"{'d' if with_docs else ''}-{code}")
    dst = os.path.join(cache_root, name)
    man_path = os.path.join(dst, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return dst, json.load(f)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    man = _build(tmp, replicas, seed, stage, with_docs)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst, man
