#!/usr/bin/env python3
"""Natural-bucketing sf25 embedding variant (VERDICT r12 stretch 7).

The replicated sf25 corpus is an ADVERSARIAL near-dup stress for the
embedding operators: every replica class collides into the same LSH keys,
which is exactly what makes x34's survivor-pair output quadratic.
BASELINE.md's 100 TB argument claims natural embeddings bucket far more
uniformly — this script generates the corpus that claim describes, so
x34/x83 can be measured in that regime too: 500k deterministic
pseudo-Gaussian unit vectors (Box-Muller over hash-derived uniforms —
rotation-invariant direction ⇒ hyperplane LSH keys occupy near-uniformly;
no replica structure ⇒ essentially no near-dup survivors at catalog
thresholds).

Layout: <dst>/embeddings.parquet plus symlinks to every other <src>
table, so the directory drops into SPARK_GRAFT_SF_DIR / check_oracle /
JobProfile unchanged.

Usage: make_natural_embeddings.py [src_sf_dir] [dst_dir] [n_vectors]
"""
import os
import sys

import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "testdata_sf25"
dst = sys.argv[2] if len(sys.argv) > 2 else "testdata_sf25nat"
n = int(sys.argv[3]) if len(sys.argv) > 3 else 500_000

os.makedirs(dst, exist_ok=True)
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]:
    link = os.path.join(dst, f"{t}.parquet")
    # lexists, not exists (ADVICE r13): exists() follows the symlink and
    # returns False for a stale link (source dir regenerated/removed), so
    # os.symlink would raise FileExistsError on rerun. Remove-then-relink
    # keeps reruns idempotent even when the source moved.
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(os.path.abspath(os.path.join(src, f"{t}.parquet")), link)

con = duckdb.connect()
# Box-Muller: u1, u2 in (0,1) from the deterministic 64-bit hash (the
# +0.5 keeps u1 off 0 so ln() is finite); z ~ N(0,1) per dim, normalized
# to exact unit length. hash() is UBIGINT, so the modulo is non-negative.
sql = f"""
WITH base AS (
  SELECT r.range AS vec_id,
    list_transform(range(64), j ->
      sqrt(-2 * ln((CAST(hash(r.range * 131 + j * 2) % 1000003 AS DOUBLE)
                    + 0.5) / 1000003.0))
      * cos(2 * pi() *
            (CAST(hash(r.range * 131 + j * 2 + 1) % 1000003 AS DOUBLE)
             + 0.5) / 1000003.0)) AS g
  FROM range({n}) r(range))
SELECT vec_id,
  CAST(list_transform(g, x -> x / sqrt(list_dot_product(g, g)))
    AS FLOAT[]) AS embedding,
  CAST(vec_id % 10 AS INT) AS label
FROM base
"""
con.execute(f"COPY ({sql}) TO '{dst}/embeddings.parquet' "
            f"(FORMAT PARQUET, COMPRESSION SNAPPY)")
cnt, = con.execute(
    f"SELECT count(*) FROM '{dst}/embeddings.parquet'").fetchone()
print(f"embeddings: {cnt} rows -> {dst}/embeddings.parquet")
