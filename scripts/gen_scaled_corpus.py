#!/usr/bin/env python3
"""Full-fidelity 10x text/vector corpus generator (VERDICT r3 #2).

Replicating text or vectors verbatim creates quadratic cross-copy
near-duplicate explosions that distort the dedup/similarity workload
instead of scaling it. This generator PERTURBS instead:

- documents: each of 9 extra copies of a doc rewrites tokens with a
  per-(doc_id, copy) seeded RNG. ~20% of copies replace only 5% of
  tokens (true near-dups: high shingle overlap, within MinHash reach);
  the rest replace 60% (unrelated text with the same vocabulary and
  length profile). Near-dup cluster sizes therefore grow by a constant
  (~1.8 expected extra members), not quadratically.
- embeddings: ~20% of copies are the original vector plus small
  Gaussian noise, renormalized (cos ~ 0.99 — real near-dups); the rest
  are fresh Gaussians lightly mixed with the original (cos ~ 0.3) so
  the label/cell structure stays loosely meaningful for IVF.

Ids shift by copy * 10_000 (> max base id), so base ids keep their
identities and cross-scale queries stay comparable. All other tables
are copied from the source scale unchanged — the relational suite was
already scale-probed with the r3 key-shifted replica; this fixture
exists to scale the dedup/sim/text family with realistic density.

Usage: python3 scripts/gen_scaled_corpus.py [src_sf_dir] [out_dir]
Defaults: /root/testdata/sf0.1 /tmp/sf1_corpus
"""
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIFT = 10_000
COPIES = 9          # 1 original + 9 -> 10x (argv[3] overrides)
NEAR_DUP_FRAC = 0.2 # fraction of copies that are genuine near-dups
NEAR_REPLACE = 0.05 # token replacement rate for near-dup copies
FAR_REPLACE = 0.60  # token replacement rate for unrelated copies


def gen_documents(con, src, out):
    df = con.sql(f"SELECT * FROM '{src}/documents.parquet' ORDER BY doc_id").df()
    vocab = sorted({t for txt in df["text"] for t in txt.split()})
    vocab = np.array(vocab)
    rows = {c: [] for c in ["doc_id", "text", "lang", "source", "n_chars"]}

    def emit(doc_id, text, lang, source):
        rows["doc_id"].append(doc_id)
        rows["text"].append(text)
        rows["lang"].append(lang)
        rows["source"].append(source)
        rows["n_chars"].append(len(text))

    for r in df.itertuples(index=False):
        emit(r.doc_id, r.text, r.lang, r.source)
        toks = r.text.split()
        for c in range(1, COPIES + 1):
            rng = np.random.default_rng(r.doc_id * 101 + c)
            near = rng.random() < NEAR_DUP_FRAC
            rate = NEAR_REPLACE if near else FAR_REPLACE
            t2 = list(toks)
            for i in range(len(t2)):
                if rng.random() < rate:
                    t2[i] = vocab[rng.integers(0, len(vocab))]
            emit(r.doc_id + c * SHIFT, " ".join(t2), r.lang, r.source)

    table = pa.table({
        "doc_id": pa.array(rows["doc_id"], pa.int64()),
        "text": pa.array(rows["text"], pa.string()),
        "lang": pa.array(rows["lang"], pa.string()),
        "source": pa.array(rows["source"], pa.string()),
        "n_chars": pa.array(rows["n_chars"], pa.int64()),
    })
    pq.write_table(table, f"{out}/documents.parquet")
    return len(rows["doc_id"])


def gen_embeddings(con, src, out):
    df = con.sql(f"SELECT * FROM '{src}/embeddings.parquet' ORDER BY vec_id").df()
    ids, vecs, labels = [], [], []

    def emit(vid, v, label):
        ids.append(vid)
        vecs.append(np.asarray(v, dtype=np.float32))
        labels.append(label)

    for r in df.itertuples(index=False):
        v = np.asarray(r.embedding, dtype=np.float64)
        emit(r.vec_id, v, r.label)
        for c in range(1, COPIES + 1):
            rng = np.random.default_rng(r.vec_id * 131 + c)
            if rng.random() < NEAR_DUP_FRAC:
                v2 = v + 0.05 * rng.standard_normal(v.shape)
            else:
                v2 = 0.3 * v + rng.standard_normal(v.shape)
            n = np.linalg.norm(v2)
            base = np.linalg.norm(v)
            if n > 0 and base > 0:
                v2 = v2 / n * base  # keep the source norm profile
            emit(r.vec_id + c * SHIFT, v2, r.label)

    table = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(table, f"{out}/embeddings.parquet")
    return len(ids)


def gen_skew(out, n_rows=20_000_000, domain=100_000, s=2.0):
    """Zipf-skewed join fixture (VERDICT r5 #4): skew_facts has keys
    drawn from a Zipf(s) law over [0, domain) — at s=2.0 the hottest
    key carries ~60% of all rows, the operational "one key >>
    everything" straggler profile saltedJoin exists for — plus
    skew_dim, a uniform (key, attr) dimension, for timing a plain vs
    a salted join (Scale.saltedJoin) and its partition spread.
    """
    rng = np.random.default_rng(7)
    ranks = np.arange(1, domain + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    keys = rng.choice(domain, size=n_rows, p=p).astype(np.int64)
    vals = rng.integers(0, 1000, size=n_rows, dtype=np.int64)
    pq.write_table(pa.table({"key": keys, "value": vals}),
                   f"{out}/skew_facts.parquet")
    dim_keys = np.arange(domain, dtype=np.int64)
    attrs = (dim_keys % 100).astype(np.int32)
    pq.write_table(pa.table({"key": dim_keys, "attr": attrs}),
                   f"{out}/skew_dim.parquet")
    hot = (keys == 0).mean()
    print(f"wrote skew fixture: {n_rows} facts over {domain} keys, "
          f"hot-key share {hot:.3f}")
    return n_rows


def main():
    global COPIES
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1_corpus"
    if len(sys.argv) > 3:
        COPIES = int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    if len(sys.argv) > 4 and sys.argv[4] == "skew-only":
        gen_skew(out)
        return
    con = duckdb.connect()
    nd = gen_documents(con, src, out)
    ne = gen_embeddings(con, src, out)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events"]:
        shutil.copyfile(f"{src}/{t}.parquet", f"{out}/{t}.parquet")
    gen_skew(out)
    print(f"wrote {out}: documents={nd} embeddings={ne} "
          f"(+8 relational tables copied from {src})")


if __name__ == "__main__":
    main()
