#!/usr/bin/env python3
"""Scale-probe testdata generator: replicate an sf directory K times by
key-shift, producing a dataset with K x the rows and the SAME relational
structure per copy (validation tooling only -- never a dependency of the
shipped Scala library, like tools/check.py).

Method (copy i of K, copy 0 = bit-identical original):
  * every dense 0-based key column shifts by i * stride (stride = the
    source table's row/key count), so foreign keys stay consistent and
    modular selections (vec_id % 100 queries, doc_id div 32 collation)
    keep exactly the same selectivity per copy;
  * dimension tables (region, nation) are NOT replicated -- like a real
    corpus growing under a fixed reference schema;
  * document TEXT is Caesar-shifted by i (a-z/A-Z only) so copies are
    never exact or near duplicates of each other: each copy contributes
    the same INTERNAL dedup workload as the original and cross-copy
    shingle/minhash collisions are no more likely than chance. Lengths,
    word boundaries, and Zipf shape are preserved (word-TYPE counts grow
    x K -- a mild pessimism for vocab-bounded stages, noted in SURVEY);
  * embeddings get a per-copy seeded dimension permutation: norms and
    within-copy geometry are exactly preserved, cross-copy cosine decays
    to chance level -- ANN/semantic workloads scale by corpus, not by
    planted 10-cliques;
  * event timestamps keep the original window; user_id/event_id shift,
    so the stream reads as K x the users over the same month.

Usage: python3 tools/gen_scale.py SRC_DIR DST_DIR K [--dup-dense]
e.g.   python3 tools/gen_scale.py /root/testdata/sf0.1 /tmp/testdata_sf1 10

--dup-dense: document text uses the pre-r13 Caesar ROTATION cipher
instead of the seeded permutation — deliberately resurrecting the
duplicate-dense regime the r13 fixture fix removed, as a STRESS corpus
(copies i and i+26 are bit-identical; every rotated copy keeps its
source's word shape, so shingle/minhash/phash cluster mass scales with
K² per original doc while distinct content stays ~flat). The r13
stress ledger `git show 8074e4b:BENCH_sf3_dupdense.json` came from this
regime by accident; the flag makes it reproducible on purpose. Marked in GEN_SCALE_FORMAT
as "2-dupdense" so a stress dir can never be mistaken for (or mixed
with) a scaled-ladder dir.

FIXTURE FORMAT VERSIONING: the text cipher changed in r13 (Caesar
rotation -> seeded per-copy alphabet permutation), which changes the
generated text for EVERY shift >= 1, not just the wrapped copies the fix
targeted -- so ledgers/goldens produced against a v1 dir are silently
incomparable to a v2 regeneration even at K <= 26. Every generated dir
now carries a GEN_SCALE_FORMAT marker file; bump FORMAT_VERSION whenever
generated bytes change for any K, and regenerate ALL scaled dirs plus
every ledger tied to them together (never mix versions in one ladder).
"""
import os
import sys

FORMAT_VERSION = 2  # 1 = Caesar rotation (pre-r13); 2 = seeded permutation

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# stride per shifted column = source cardinality of the key's home table
STRIDES = {
    "c_custkey": "customer", "o_custkey": "customer",
    "o_orderkey": "orders", "l_orderkey": "orders",
    "l_partkey": "part", "p_partkey": "part",
    "l_suppkey": "supplier", "s_suppkey": "supplier",
    "event_id": "events", "user_id": None,  # user_id is not a table key
    "doc_id": "documents", "vec_id": "embeddings",
}
DIMENSION_TABLES = ["region", "nation"]


def caesar_rotation(text_array: pa.Array, shift: int) -> pa.Array:
    """Plain a-z/A-Z rotation by `shift` (mod 26) — the pre-r13 cipher,
    kept ONLY for --dup-dense stress corpora (see module docstring):
    rotation preserves inter-character code deltas for non-wrapping
    chars, so rotated copies collapse onto their source in sample-mean
    hash space (phash) and wrap to bit-identical text at K > 26."""
    if shift % 26 == 0:
        return text_array
    lo = "abcdefghijklmnopqrstuvwxyz"
    hi = lo.upper()
    r = shift % 26
    table = str.maketrans(lo + hi, lo[r:] + lo[:r] + hi[r:] + hi[:r])
    return pa.array(
        [None if t is None else t.translate(table)
         for t in text_array.to_pylist()],
        type=text_array.type)


def caesar(text_array: pa.Array, shift: int) -> pa.Array:
    """Per-copy deterministic keyed a-z/A-Z substitution; everything else
    unchanged. A plain Caesar rotation wraps at 26: copies i and i+26
    carried BIT-IDENTICAL text, planting ~n cross-copy exact-dup pairs
    per wrapped copy at K>26 (measured: the first K=30 probe's minhash
    pair count jumped 11.6x on a 3x step and dedup_edit_distance looked
    quadratic — fixture artifact, not engine behavior). A seeded
    alphabet permutation per copy keeps lengths/word boundaries/Zipf
    shape exactly like the rotation did, with permutation collisions at
    ~1/26! instead of guaranteed at i ≡ j (mod 26)."""
    if shift == 0:
        return text_array
    lo = "abcdefghijklmnopqrstuvwxyz"
    hi = lo.upper()
    perm = np.random.default_rng(7777 + shift).permutation(26)
    table = str.maketrans(
        lo + hi,
        "".join(lo[p] for p in perm) + "".join(hi[p] for p in perm))
    return pa.array(
        [None if t is None else t.translate(table)
         for t in text_array.to_pylist()],
        type=text_array.type)


def permute_embeddings(col: pa.ChunkedArray, rng: np.random.Generator,
                       dim: int) -> pa.Array:
    perm = rng.permutation(dim)
    vecs = np.asarray(col.combine_chunks().flatten(), dtype=np.float32)
    vecs = vecs.reshape(-1, dim)[:, perm]
    return pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.ravel(), type=pa.float32()), dim).cast(col.type)


def main(src: str, dst: str, k: int, dup_dense: bool = False) -> None:
    os.makedirs(dst, exist_ok=True)
    fmt = f"{FORMAT_VERSION}-dupdense" if dup_dense else str(FORMAT_VERSION)
    marker = os.path.join(dst, "GEN_SCALE_FORMAT")
    if os.path.exists(marker):
        with open(marker) as f:
            prev = f.read().strip()
        if prev != fmt:
            sys.exit(f"{dst} was generated with format v{prev}, tool is "
                     f"v{fmt}: delete the dir (and regenerate "
                     "every ledger tied to it) instead of mixing versions")
    with open(marker, "w") as f:
        f.write(f"{fmt}\n")
    tables = {n: pq.read_table(os.path.join(src, f"{n}.parquet"))
              for n in list(SHIFT_COLS) + DIMENSION_TABLES}
    counts = {n: t.num_rows for n, t in tables.items()}
    strides = {c: (counts[t] if t else
                   pc.max(tables["events"]["user_id"]).as_py() + 1)
               for c, t in STRIDES.items()}
    for name in DIMENSION_TABLES:
        pq.write_table(tables[name], os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: {counts[name]} rows (dimension, unreplicated)")
    dim = len(tables["embeddings"]["embedding"][0])
    for name, keys in SHIFT_COLS.items():
        t = tables[name]
        copies = []
        for i in range(k):
            c = t
            for key in keys:
                shifted = pc.add(c[key], strides[key] * i)
                c = c.set_column(c.schema.get_field_index(key), key,
                                 shifted.cast(t.schema.field(key).type))
            if name == "documents" and i:
                cipher = caesar_rotation if dup_dense else caesar
                c = c.set_column(c.schema.get_field_index("text"), "text",
                                 cipher(c["text"].combine_chunks(), i))
            if name == "embeddings" and i:
                rng = np.random.default_rng(42 + i)
                c = c.set_column(
                    c.schema.get_field_index("embedding"), "embedding",
                    permute_embeddings(c["embedding"], rng, dim))
            copies.append(c)
        out = pa.concat_tables(copies)
        # one row group PER COPY: the source dirs ship each table as a
        # single row group, so a K x dataset must carry K row groups for
        # scan parallelism to grow with data the way a real lake's file
        # count does. pyarrow's default (1M-row groups) instead serializes
        # whole-table scans into 1-2 tasks and the probe then measures the
        # fixture layout, not the plan (events at K=10 was ONE 1M-row
        # group = a single-task scan for every narrow phase).
        pq.write_table(out, os.path.join(dst, f"{name}.parquet"),
                       row_group_size=max(t.num_rows, 1))
        print(f"{name}: {t.num_rows} -> {out.num_rows} rows "
              f"({k} row groups of {t.num_rows})")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]),
         dup_dense="--dup-dense" in sys.argv[4:])
