"""Seeded input generator with ground truth, one numpy process.

Every workload's inputs come from ``numpy.random.default_rng(seed)``
and are written as parquet; the library under test only ever sees that
parquet. The expected outputs are computed here, in numpy, from the
same arrays, so every check in ``workloads.py`` compares the library's
result against a value derived independently of it.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. ``full`` is what the benchmark runs; ``tiny`` is
# the smoke-test scale. Group cardinality and key skew are the inputs
# aggregation cost depends on, so they are fixed per workload, never
# per seed.
SIZES = {
    "partition": {
        "full": {"docs": 30_000, "groups": 3_000, "zipf": 1.3, "cap_rows": 64,
                 "cohorts": 5, "resumes": 2,
                 "curate": {"docs": 2_000, "dup_share": 0.10, "vectors": 1_500,
                            "dim": 32, "queries": 30, "centres": 24}},
        "tiny": {"docs": 600, "groups": 60, "zipf": 1.3, "cap_rows": 8,
                 "cohorts": 1, "resumes": 1,
                 "curate": {"docs": 600, "dup_share": 0.20, "vectors": 300,
                            "dim": 8, "queries": 5, "centres": 8}},
    },
    "lakehouse_cdc": {
        "full": {"base": 8_000, "days": 8, "rounds": 24, "batch": 1_000},
        "tiny": {"base": 400, "days": 4, "rounds": 3, "batch": 40},
    },
}

WORKLOADS = tuple(SIZES)

# Byte width of one int64 cell in the library's row-size rule
# (functions.textstats: fixed-width numerics count their dtype size).
_LONG = 8


def _vocab(rng: np.random.Generator, n: int = 4_000) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 2-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 10))
        out.add("".join(rng.choice(letters, k)))
    return np.array(sorted(out))


def _texts(rng, vocab, lengths) -> list[str]:
    idx = rng.integers(0, len(vocab), int(lengths.sum()))
    words = vocab[idx]
    cuts = np.cumsum(lengths)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _zipf_groups(rng, n: int, groups: int, s: float) -> np.ndarray:
    """Group index per row with P(rank k) proportional to k**-s."""
    p = np.arange(1, groups + 1, dtype=np.float64) ** -s
    return rng.choice(groups, size=n, p=p / p.sum())


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def shuffle_rank(seed: int, gid: str) -> str:
    """The documented group_stream order key: md5 of ``seed:gid``."""
    return hashlib.md5(f"{seed}:{gid}".encode()).hexdigest()


def _gen_partition(rng, p, out, seed):
    n = p["docs"]
    vocab = _vocab(rng)
    gidx = _zipf_groups(rng, n, p["groups"], p["zipf"])
    domains = np.array([f"d{g:05d}.example.org" for g in range(p["groups"])])
    doc_id = np.arange(n, dtype=np.int64)
    urls = [f"https://{domains[g]}/p/{i}" for g, i in zip(gidx, doc_id)]
    nwords = rng.integers(20, 121, n)
    texts = _texts(rng, vocab, nwords)
    # rows reach the library in a scrambled order: the cap must follow
    # doc_id, not file order
    perm = rng.permutation(n)
    table = pa.table({
        "doc_id": doc_id[perm],
        "url": pa.array([urls[i] for i in perm]),
        "text": pa.array([texts[i] for i in perm]),
    })
    in_bytes = _write(table, os.path.join(out, "docs.parquet"))

    # row size under the library's rule: int64 width + utf-8 lengths
    row_bytes = (
        _LONG
        + np.array([len(u) for u in urls], dtype=np.int64)
        + np.array([len(t) for t in texts], dtype=np.int64)
    )
    limit = int(p["cap_rows"] * row_bytes.mean())
    # cap: per group, the longest doc_id-ordered prefix (over rows
    # individually under the limit) whose running byte sum stays
    # strictly below the limit
    order = np.lexsort((doc_id, gidx))
    g_sorted, b_sorted = gidx[order], row_bytes[order]
    admissible = b_sorted < limit
    b_adm = np.where(admissible, b_sorted, 0)
    csum = np.cumsum(b_adm)
    starts = np.r_[0, np.flatnonzero(np.diff(g_sorted)) + 1]
    base = np.repeat(csum[starts] - b_adm[starts],
                     np.diff(np.r_[starts, len(g_sorted)]))
    kept = admissible & ((csum - base) < limit)
    present = np.unique(gidx)
    counts = np.bincount(gidx, minlength=p["groups"])
    kept_counts = np.bincount(g_sorted[kept], minlength=p["groups"])
    kept_ids = np.bincount(
        g_sorted[kept], weights=doc_id[order][kept], minlength=p["groups"]
    )
    words = np.bincount(gidx, weights=nwords + 1, minlength=p["groups"])
    # per group: rows, rows kept under the cap, words, sum of kept doc_ids
    groups = {
        str(domains[g]): [int(counts[g]), int(kept_counts[g]), int(words[g]),
                          int(kept_ids[g])]
        for g in present
    }
    truth = {
        "rows": n,
        "limit": limit,
        "groups": groups,
        "order": sorted(
            (g for g, v in groups.items() if v[1]), key=lambda g: shuffle_rank(seed, g)
        ),
        "truncated_groups": int((kept_counts < counts).sum()),
    }
    files, curate_bytes, truth["curate"] = _gen_curate(rng, p["curate"], out)
    return {"docs": "docs.parquet", **files}, in_bytes + curate_bytes, truth


def _gen_curate(rng, p, out):
    """A document shard with planted near-duplicates, and embeddings
    with planted query neighbours, for the dedup and kNN operators."""
    vocab = _vocab(rng)
    n = p["docs"]
    n_dup = int(n * p["dup_share"])
    lengths = rng.integers(30, 80, n)
    texts = _texts(rng, vocab, lengths)
    # plant clusters of 2-5: copies of a base doc with one word swapped
    clusters = []
    next_copy, base_id = n - n_dup, 0
    while next_copy < n:
        size = int(min(rng.integers(2, 6), n - next_copy + 1))
        members = [base_id]
        words = texts[base_id].split(" ")
        for _ in range(size - 1):
            w = list(words)
            w[int(rng.integers(0, len(w)))] = str(vocab[rng.integers(len(vocab))])
            texts[next_copy] = " ".join(w)
            members.append(next_copy)
            next_copy += 1
        clusters.append(members)
        base_id += 1
    doc_id = np.arange(n, dtype=np.int64)
    perm = rng.permutation(n)
    docs = pa.table({
        "doc_id": doc_id[perm],
        "text": pa.array([texts[i] for i in perm]),
    })
    in_bytes = _write(docs, os.path.join(out, "dedup.parquet"))

    nv, dim = p["vectors"], p["dim"]
    centres = rng.normal(0.0, 1.0, (p["centres"], dim))
    assign = rng.integers(0, p["centres"], nv)
    vecs = (centres[assign] + rng.normal(0.0, 0.35, (nv, dim))).astype(np.float32)
    # queries: planted next to corpus vectors, ids disjoint from corpus
    anchors = rng.choice(nv, p["queries"], replace=False)
    qv = (vecs[anchors] + rng.normal(0.0, 0.05, (p["queries"], dim))).astype(np.float32)
    qid = np.arange(p["queries"], dtype=np.int64) + 10_000_000
    corpus = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "vec": pa.array(list(vecs.astype(np.float64))),
    })
    queries = pa.table({"qid": qid, "vec": pa.array(list(qv.astype(np.float64)))})
    in_bytes += _write(corpus, os.path.join(out, "corpus.parquet"))
    in_bytes += _write(queries, os.path.join(out, "queries.parquet"))
    c64, q64 = vecs.astype(np.float64), qv.astype(np.float64)
    cos = (q64 @ c64.T) / (
        np.linalg.norm(q64, axis=1)[:, None] * np.linalg.norm(c64, axis=1)[None, :]
    )
    top = np.argsort(-cos, axis=1, kind="stable")[:, :10]
    truth = {
        "docs": n,
        "dup_clusters": clusters,
        "vectors": nv,
        "queries": p["queries"],
        "knn": {int(q): [int(x) for x in row] for q, row in zip(qid, top)},
    }
    files = {"dedup": "dedup.parquet", "corpus": "corpus.parquet",
             "queries": "queries.parquet"}
    return files, in_bytes, truth


def lakehouse_checksum(ids: np.ndarray, vals: np.ndarray, days: np.ndarray,
                       text_len: np.ndarray) -> list[int]:
    """Order-insensitive table checksum, evaluated identically by
    ``workloads.table_checksum`` in Spark: row count, sum of
    ``id * 1000003 + val``, sum of ``day * id``, total text length."""
    return [
        int(len(ids)),
        int((ids * 1_000_003 + vals).sum()),
        int((days * ids).sum()),
        int(text_len.sum()),
    ]


def _gen_lakehouse(rng, p, out):
    vocab = _vocab(rng, 1_000)
    nb, days = p["base"], p["days"]

    def rows(ids, day):
        k = len(ids)
        return {
            "id": ids.astype(np.int64),
            "day": day.astype(np.int64),
            "val": rng.integers(0, 1_000_000, k, dtype=np.int64),
            "text": np.array(_texts(rng, vocab, rng.integers(2, 8, k)), dtype=object),
        }

    state = rows(np.arange(nb), rng.integers(0, days, nb))
    files = {"base": "base.parquet"}
    in_bytes = _write(pa.table(state), os.path.join(out, "base.parquet"))
    current = {k: v.copy() for k, v in state.items()}
    next_id = nb
    expected = []
    half = p["batch"] // 2
    for r in range(p["rounds"]):
        pos = rng.choice(len(current["id"]), half, replace=False)
        upd = rows(current["id"][pos], current["day"][pos])
        ins = rows(np.arange(next_id, next_id + half), rng.integers(0, days, half))
        next_id += half
        batch = {k: np.concatenate([upd[k], ins[k]]) for k in upd}
        name = f"cdc_{r:03d}.parquet"
        files[name[:-8]] = name
        in_bytes += _write(pa.table(batch), os.path.join(out, name))
        for k in ("val", "text"):
            current[k][pos] = upd[k]
        current = {k: np.concatenate([current[k], ins[k]]) for k in current}
        tl = np.array([len(t) for t in current["text"]], dtype=np.int64)
        expected.append(
            lakehouse_checksum(current["id"], current["val"], current["day"], tl)
        )
    truth = {"base": nb, "batch": 2 * half, "rounds": expected}
    return files, in_bytes, truth


def generate(workload: str, seed: int, out_dir: str, scale: str = "full") -> dict:
    """Write ``workload``'s inputs under ``out_dir`` and return the
    manifest: seed, sizes, input files and bytes, generation time and
    the ground truth."""
    t0 = time.perf_counter()
    p = SIZES[workload][scale]
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    if workload == "partition":
        files, in_bytes, truth = _gen_partition(rng, p, out_dir, seed)
    else:
        files, in_bytes, truth = _gen_lakehouse(rng, p, out_dir)
    manifest = {
        "workload": workload,
        "seed": seed,
        "scale": scale,
        "sizes": p,
        "files": {k: os.path.join(out_dir, v) for k, v in files.items()},
        "input_bytes": in_bytes,
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump({**manifest, "truth": truth}, f)
    manifest["truth"] = truth
    return manifest
