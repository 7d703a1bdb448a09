"""Generate a larger SF dataset by tiling an existing one.

The driver's round-end measurement may run at a larger, driver-generated
scale factor (BENCH_r05 ran at sf1.0) which is not present on disk.
This tool builds a structurally faithful sf0.1 x N replica for local
benchmarking ONLY (never for correctness — the oracle gate runs on the
driver's own sf dirs):

* Relational tables tile N times with key shifts (new_key = key +
  tile * (max_key + 1), max_key read from the source; a foreign key
  shifts with its parent key) so referential joins keep their exact
  selectivity and per-key group sizes; nation/region stay fixed like
  TPC-H does across scale factors.
* ``documents`` applies a per-tile VOCABULARY BIJECTION (seeded word ->
  word permutation): within a tile every word n-gram Jaccard
  relationship is preserved exactly, across tiles token sets diverge,
  so near-dup pair counts scale linearly like the driver's generator
  (24 pairs at sf0.01 -> 235 at sf0.1) instead of exploding
  quadratically as a naive copy would.
* ``embeddings`` applies a per-tile random ORTHOGONAL ROTATION: within-
  tile cosine structure (10 clusters) is preserved exactly, cross-tile
  similarities collapse to noise.

Each table is written as ONE parquet file to match the driver layout
(single-file tables are exactly the scan-parallelism hazard the r6
operators handle).

Usage: python tools/gen_bigsf.py SRC_DIR DST_DIR TILES [seed]
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


# table -> {column: the key whose shift it takes}. A primary key (and
# events.user_id, whose users table is implicit) shifts by its own
# max + 1; a foreign key takes its parent key's shift, so every FK join
# stays inside its tile and no key repeats across tiles.
SHIFT_KEYS = {
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
}


def tile_relational(src: str, dst: str, tiles: int) -> None:
    for t in ("region", "nation"):
        tbl = pq.read_table(os.path.join(src, f"{t}.parquet"))
        pq.write_table(tbl, os.path.join(dst, f"{t}.parquet"))
    tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in SHIFT_KEYS}
    shift = {
        key: pc.max(tables[t].column(key)).as_py() + 1
        for t, keys in SHIFT_KEYS.items()
        for col, key in keys.items()
        if col == key
    }
    for t, keys in SHIFT_KEYS.items():
        tbl = tables[t]
        parts = []
        for i in range(tiles):
            cols = {}
            for name in tbl.column_names:
                col = tbl.column(name)
                if name in keys and i:
                    col = pc.add(col, i * shift[keys[name]])
                cols[name] = col
            parts.append(pa.table(cols))
        out = pa.concat_tables(parts)
        pq.write_table(out, os.path.join(dst, f"{t}.parquet"))
        print(t, out.num_rows, flush=True)


def tile_documents(src: str, dst: str, tiles: int, seed: int) -> None:
    df = pq.read_table(os.path.join(src, "documents.parquet")).to_pandas()
    vocab = sorted({w for t in df["text"] for w in t.split(" ")})
    rng = np.random.default_rng(seed)
    parts = [df]
    n = len(df)
    for i in range(1, tiles):
        perm = dict(zip(vocab, rng.permutation(vocab)))
        pat = re.compile(r"\S+")
        d = df.copy()
        d["text"] = [
            pat.sub(lambda m: perm.get(m.group(0), m.group(0)), t)
            for t in df["text"]
        ]
        d["doc_id"] = df["doc_id"] + i * n
        d["n_chars"] = d["text"].str.len()
        parts.append(d)
    out = pd.concat(parts, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False),
                   os.path.join(dst, "documents.parquet"))
    print("documents", len(out), flush=True)


def tile_embeddings(src: str, dst: str, tiles: int, seed: int) -> None:
    tbl = pq.read_table(os.path.join(src, "embeddings.parquet")).to_pandas()
    mat = np.vstack(tbl["embedding"].to_numpy()).astype(np.float64)
    dim = mat.shape[1]
    rng = np.random.default_rng(seed + 1)
    parts = [tbl]
    n = len(tbl)
    for i in range(1, tiles):
        q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
        rot = (mat @ q).astype(np.float32)
        d = tbl.copy()
        d["embedding"] = list(rot)
        d["vec_id"] = tbl["vec_id"] + i * n
        parts.append(d)
    out = pd.concat(parts, ignore_index=True)
    schema = pq.read_schema(os.path.join(src, "embeddings.parquet"))
    pq.write_table(
        pa.Table.from_pandas(out, preserve_index=False, schema=schema),
        os.path.join(dst, "embeddings.parquet"),
    )
    print("embeddings", len(out), flush=True)


def main() -> None:
    src, dst = sys.argv[1], sys.argv[2]
    tiles = int(sys.argv[3])
    seed = int(sys.argv[4]) if len(sys.argv) > 4 else 7
    os.makedirs(dst, exist_ok=True)
    tile_relational(src, dst, tiles)
    tile_documents(src, dst, tiles, seed)
    tile_embeddings(src, dst, tiles, seed)
    open(os.path.join(dst, "_DONE"), "w").write("ok")


if __name__ == "__main__":
    main()
