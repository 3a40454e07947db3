"""Seeded input generators. The same seed gives byte-identical files.

Serving inputs (workload `serve`):
  corpus.f32     N x DIM float32, a Gaussian mixture of CLUSTERS clusters
  tags.i32       the cluster of each corpus vector (sent as the `tag` param)
  pool.f32       POOL query vectors drawn near the cluster centres
  ops_read.i32   read-phase op stream, records of four int32
                 (kind, collection, arg, varg)
  ops_mixed.i32  mixed-phase op stream, same records
  wvecs.f32      one vector per upsert of the mixed phase
  queries.f32    one never-repeated query per mixed-phase search
  meta.json      sizes

Batch inputs: sf/documents.parquet and sf/embeddings.parquet, typed like
the sf0.1 tables the batch queries read, at 0.2x their row counts.
"""
import json
import os

import numpy as np

DIM = 64
N = 5000
CLUSTERS = 64
POOL = 1000
COLLECTIONS = 3
K = 10

SEARCH, FETCH, GET, UPSERT, DELETE = 0, 1, 2, 3, 4

READ_OPS = 30000
READ_MIX = (0.60, 0.25, 0.15)  # vectors/search, documents/search, GET
ZIPF_S = 1.1

BURSTS = 1000
BURST_WRITES = (6, 3, 1)  # fresh ids, overwrites, deletes per burst
BURST_SEARCHES = 10


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(path, arr):
    with open(path, "wb") as f:
        f.write(np.ascontiguousarray(arr).astype(arr.dtype.newbyteorder("<")).tobytes())


def mixture(seed):
    """Cluster centres, corpus vectors and their cluster ids."""
    rng = _rng(seed, 1)
    centres = (rng.standard_normal((CLUSTERS, DIM)) * 2.0).astype(np.float32)
    assign = rng.integers(0, CLUSTERS, N).astype(np.int32)
    corpus = centres[assign] + rng.standard_normal((N, DIM)).astype(np.float32)
    return centres, corpus.astype(np.float32), assign


def near(rng, centres, n):
    """n vectors drawn from the same mixture as the corpus."""
    c = rng.integers(0, CLUSTERS, n)
    return (centres[c] + rng.standard_normal((n, DIM)).astype(np.float32)).astype(np.float32)


def zipf_ranks(rng, n, size, s=ZIPF_S):
    """`size` draws of a Zipf(s) rank truncated to [0, n)."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def read_ops(seed):
    """Read phase: cycles of 60 ops, each cycle holding exactly the mix
    (per collection 12 vectors/search, 5 documents/search, 3 GET) in a
    seeded order, so every prefix of the stream keeps the mix closely. Query vectors
    are drawn Zipf(1.1) from the pool (a fixed permutation maps rank to
    vector); GETs pick corpus ids uniformly."""
    rng = _rng(seed, 3)
    per_coll = [SEARCH] * 12 + [FETCH] * 5 + [GET] * 3
    cycle = np.array([(k, c) for c in range(COLLECTIONS) for k in per_coll], dtype=np.int32)
    n_cycles = READ_OPS // len(cycle)
    ops = np.concatenate([cycle[rng.permutation(len(cycle))] for _ in range(n_cycles)])
    kinds, colls = ops[:, 0], ops[:, 1]
    n = len(ops)
    perm = rng.permutation(POOL).astype(np.int32)
    qarg = perm[zipf_ranks(rng, POOL, n)]
    docs = rng.integers(0, N, n).astype(np.int32)
    arg = np.where(kinds == GET, docs, qarg).astype(np.int32)
    return np.stack([kinds, colls, arg, np.zeros(n, np.int32)], axis=1)


class _LiveIds:
    """Ids of one collection, with O(1) random pick and removal."""

    def __init__(self, n):
        self.ids = list(range(n))
        self.pos = {i: i for i in range(n)}
        self.next = n

    def pick(self, rng):
        return self.ids[int(rng.integers(0, len(self.ids)))]

    def add(self, i):
        if i not in self.pos:
            self.pos[i] = len(self.ids)
            self.ids.append(i)

    def remove(self, i):
        p = self.pos.pop(i)
        last = self.ids.pop()
        if p < len(self.ids):
            self.ids[p] = last
            self.pos[last] = p


def mixed_ops(seed):
    """Mixed phase: bursts on one collection each (rotating) of 10 single-doc
    writes (6 fresh ids, 3 overwrites, 1 delete, shuffled), 10 searches with
    never-repeated query vectors and one read-your-write GET of an id the
    burst wrote. Overwrites and deletes target ids live at that point."""
    rng = _rng(seed, 4)
    live = [_LiveIds(N) for _ in range(COLLECTIONS)]
    ops = []
    nvec = nq = 0
    base = [UPSERT] * (BURST_WRITES[0] + BURST_WRITES[1]) + [DELETE] * BURST_WRITES[2]
    fresh_flags = [True] * BURST_WRITES[0] + [False] * (BURST_WRITES[1] + BURST_WRITES[2])
    for b in range(BURSTS):
        c = b % COLLECTIONS
        lv = live[c]
        order = rng.permutation(len(base))
        touched = []
        for j in order:
            kind, fresh = base[j], fresh_flags[j]
            if kind == UPSERT and fresh:
                i = lv.next
                lv.next += 1
                lv.add(i)
                ops.append((UPSERT, c, i, nvec))
                nvec += 1
            elif kind == UPSERT:
                i = lv.pick(rng)
                ops.append((UPSERT, c, i, nvec))
                nvec += 1
            else:
                i = lv.pick(rng)
                lv.remove(i)
                ops.append((DELETE, c, i, 0))
            touched.append(i)
        for _ in range(BURST_SEARCHES):
            ops.append((SEARCH, c, nq, 0))
            nq += 1
        ops.append((GET, c, touched[int(rng.integers(0, len(touched)))], 0))
    return np.array(ops, dtype=np.int32), nvec, nq


def serve_inputs(out, seed):
    os.makedirs(out, exist_ok=True)
    centres, corpus, assign = mixture(seed)
    _write(f"{out}/corpus.f32", corpus)
    _write(f"{out}/tags.i32", assign)
    _write(f"{out}/pool.f32", near(_rng(seed, 2), centres, POOL))
    read = read_ops(seed)
    mixed, nvec, nq = mixed_ops(seed)
    _write(f"{out}/ops_read.i32", read)
    _write(f"{out}/ops_mixed.i32", mixed)
    _write(f"{out}/wvecs.f32", near(_rng(seed, 5), centres, nvec))
    _write(f"{out}/queries.f32", near(_rng(seed, 6), centres, nq))
    meta = {"seed": seed, "dim": DIM, "n": N, "pool": POOL, "read_ops": len(read),
            "mixed_ops": len(mixed), "upserts": nvec, "searches": nq}
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f, sort_keys=True)


# ---- batch tables -----------------------------------------------------------

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_DOCS, N_VECS, N_LABELS = 1000, 400, 10
NEAR_DUP = 0.10


def batch_inputs(out, seed):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rng = _rng(seed, 7)
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < NEAR_DUP:
            # near-duplicate of an earlier doc: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    sources = [f"src{j}" for j in rng.integers(0, 20, N_DOCS)]
    pq.write_table(pa.table(
        {"doc_id": pa.array(range(N_DOCS), pa.int64()),
         "text": pa.array(texts, pa.string()),
         "lang": pa.array(langs, pa.string()),
         "source": pa.array(sources, pa.string()),
         "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    labels = rng.integers(0, N_LABELS, N_VECS).astype(np.int32)
    centres = rng.standard_normal((N_LABELS, DIM)).astype(np.float32) * 2.0
    vecs = centres[labels] + rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)  # unit norm, as in sf0.1
    pq.write_table(pa.table(
        {"vec_id": pa.array(range(N_VECS), pa.int64()),
         "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
         "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def generate(out, seed, workload):
    if workload == "batch_pipeline":
        batch_inputs(f"{out}/sf", seed)
    else:
        serve_inputs(out, seed)
