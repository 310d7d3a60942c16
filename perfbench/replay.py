"""Kernel replay outside Spark.

Reads the shard-pruned packed rows of a query batch straight from the
warehouse with pyarrow (following the generation manifest when a tiered
append wrote one) and times the engine's public decode and top-k kernels
on those real inputs.  Comparing the replayed kernel time with the
measured query wall bounds what a kernel change can give end to end.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from pathlib import Path

import numpy as np


def read_packed(wh: Path, keys: list[str], num_shards: int,
                columns: list[str]):
    """pyarrow table of the packed rows for ``keys``: only the keys' shard
    directories, and per manifest generation only its live buckets."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from search_engine_spark.functions.hashing import term_shard

    man = wh / "postings_packed.manifest.json"
    gens = (json.loads(man.read_text())["generations"] if man.exists()
            else [{"dir": "postings_packed", "bucket_hi": None}])
    shards = sorted({term_shard(k, num_shards) for k in keys})
    parts = []
    for g in gens:
        d = ds.dataset(str(wh / g["dir"]), format="parquet",
                       partitioning="hive")
        f = ds.field("shard").isin(shards) & ds.field("term").isin(keys)
        if g.get("bucket_hi") is not None:
            f = f & (ds.field("bucket") < int(g["bucket_hi"]))
        parts.append(d.to_table(columns=columns, filter=f))
    return pa.concat_tables(parts)


def _doclens(wh: Path) -> dict[int, tuple[int, np.ndarray]]:
    import pyarrow.dataset as ds

    t = ds.dataset(str(wh / "doclens"), format="parquet").to_table()
    return {
        b: (s, np.asarray(d, dtype=np.float64))
        for b, s, d in zip(t.column("bucket").to_pylist(),
                           t.column("start").to_pylist(),
                           t.column("dls").to_pylist())
    }


def flat_plans(queries: list[str]) -> list[tuple[str, list[str], dict]]:
    """(mode, unique stems, stem multiplicity) of each flat query — the
    queries the engine's WAND and dense kernels serve."""
    from search_engine_spark.plans.query_ast import compile_query
    from search_engine_spark.plans.wand import route

    out = []
    for q in queries:
        r = route(compile_query(q))
        if r is not None:
            mode, stems = r
            out.append((mode, list(dict.fromkeys(stems)), Counter(stems)))
    return out


def replay_flat(wh: Path, queries: list[str], n_docs: int, avgdl: float,
                num_shards: int, k: int = 10) -> dict:
    """Decode and kernel milliseconds for the batch's flat queries.

    Per bucket the posting rows are decoded once; then every query runs
    the per-query block-max kernels (``topk_or``/``topk_and``, the
    single-query path) and the dense batch kernels (``topk_or_dense``/
    ``topk_and_dense`` over weights computed once per term and bucket,
    the ``search_batch`` path)."""
    from search_engine_spark.operators import codec
    from search_engine_spark.plans import bm25, wand

    plans = flat_plans(queries)
    keys = sorted({key for _, stems, _ in plans for s in stems
                   for key in (s, "@" + s)})
    rows = read_packed(wh, keys, num_shards, [
        "term", "bucket", "df", "doc_ids", "tfs", "block_last", "block_maxw"])
    doclens = _doclens(wh)
    by_bucket: dict[int, list[dict]] = {}
    for r in rows.to_pylist():
        by_bucket.setdefault(r["bucket"], []).append(r)

    t_dec = t_or = t_and = t_dense = 0.0
    postings = 0
    for bucket, trows in sorted(by_bucket.items()):
        start, dls = doclens[bucket]
        t0 = time.perf_counter()
        dec = {r["term"]: (codec.decode_docids(r["doc_ids"]),
                           codec.decode_tfs(r["tfs"])) for r in trows}
        t_dec += time.perf_counter() - t0
        postings += sum(ids.size for ids, _ in dec.values())
        meta = {r["term"]: r for r in trows}

        for mode, stems, mult in plans:
            by_key = {}
            for s in stems:
                for key in (s, "@" + s):
                    if key in dec:
                        by_key[key] = {
                            "ids": dec[key][0], "tfs": dec[key][1],
                            "block_last": np.asarray(meta[key]["block_last"],
                                                     dtype=np.int64),
                            "block_maxw": np.asarray(meta[key]["block_maxw"],
                                                     dtype=np.float64),
                            "idf": bm25.idf(meta[key]["df"], n_docs) * mult[s],
                        }
            t0 = time.perf_counter()
            if mode == "and":
                wand.topk_and(stems, by_key, dls, start, k, avgdl)
                t_and += time.perf_counter() - t0
            else:
                wand.topk_or([by_key[x] for x in sorted(by_key)], dls, start,
                             k, avgdl)
                t_or += time.perf_counter() - t0

        t0 = time.perf_counter()
        w = {t: wand._weights(tfs, dls[ids - start], avgdl, bm25.K1, bm25.B)
             for t, (ids, tfs) in dec.items()}
        for mode, stems, mult in plans:
            by_key = {key: {"ids": dec[key][0], "w": w[key],
                            "idf": bm25.idf(meta[key]["df"], n_docs) * mult[s]}
                      for s in stems for key in (s, "@" + s) if key in dec}
            if mode == "and":
                if all(s in by_key or "@" + s in by_key for s in stems):
                    wand.topk_and_dense(stems, by_key, start, dls.size, k)
            else:
                wand.topk_or_dense([by_key[x] for x in sorted(by_key)],
                                   start, dls.size, k)
        t_dense += time.perf_counter() - t0
    return {
        "codec.decode_ms": t_dec * 1e3,
        "codec.postings_decoded": float(postings),
        "wand.topk_or_ms": t_or * 1e3,
        "wand.topk_and_ms": t_and * 1e3,
        "wand.dense_ms": t_dense * 1e3,
    }


def masked_fraction(wh: Path, queries: list[str], num_shards: int) -> float:
    """Share of the queries' decoded postings that tombstones mask."""
    import pyarrow.dataset as ds

    from search_engine_spark.operators import codec

    keys = sorted({key for _, stems, _ in flat_plans(queries) for s in stems
                   for key in (s, "@" + s)})
    tombs = np.asarray(sorted(ds.dataset(str(wh / "tombstones"),
                                         format="parquet")
                              .to_table(columns=["doc_id"])
                              .column("doc_id").to_pylist()), dtype=np.int64)
    total = masked = 0
    for buf in read_packed(wh, keys, num_shards, ["doc_ids"]).column(
            "doc_ids").to_pylist():
        ids = codec.decode_docids(buf).astype(np.int64)
        total += ids.size
        masked += int(np.isin(ids, tombs).sum())
    return masked / total if total else 0.0
