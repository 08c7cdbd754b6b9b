#!/usr/bin/env python3
"""Engine-side invariants for the ANN/similarity family at 1000x
(5M vectors) — the r15 decade-up artifact's independent checks, run in
DuckDB over the parquet dumps of the graft.AnnScale runner (since
removed; its recorded results are CHECK_sf100_ann.txt).

The sf100e corpus is sf10's 200k embeddings replicated 25x with vec_id
offsets — and sf10 is ITSELF sf0.1's 2000 vectors replicated 100x
verbatim (the make_sf1/make_sf10 offset ladder), so the TRUE duplicate
family stride is card = 2000: every vector belongs to a 2500-member
family (all ids ≡ its id mod 2000). Two regimes (tools/make_sf100e.py):

exact      all 25 replicas byte-identical — every family is 2500 EXACT
           copies. Invariants are EXACT, not statistical:
  E1. exact top-10 of every sampled query q IS its 10 lowest-id
      family copies in order: with m = q % card and s = q // card,
      rank i -> n_id = m + (i-1)*card for i <= s, m + i*card after
      (all at cosine 1.0; ties at the full double resolve by the
      pinned n_id ASC).
  E2. the IVF search recovers the SAME top-10 row-for-row at every
      probe setting: an exact copy scores every centroid identically
      to its query, so its assigned cells are the query's own top
      cells — recall at 5M is 1.0 BY CONSTRUCTION, and the artifact
      checks construction == measurement.

perturbed  replica i>0 jittered per row (kin at cosine ~0.998-0.999,
           all distinct; replica-0 queries additionally keep their 99
           within-replica exact copies at 1.0, so 24/25 of queries
           rank a GRADED, tie-free neighborhood):
  P1. exact top-10 of every query stays inside its own family
      (n_id ≡ q_id mod card): family kin at >= 0.998 always beat the
      corpus's natural neighbor ceiling (~0.45).
  P2. recall@10 of each search dump, recomputed HERE from the parquet
      (independent re-derivation of the number the Scala runner
      printed — same join, different engine).

d11 (semantic dedup kept-set), over Verify dumps at two core counts:
  D1. every vec_id exactly once; D2. kept <=> group_id == vec_id;
  D3. count == |corpus|; D4. group mass conservation: group sizes sum
      back to the corpus; D5. 32-core and 16-core runs differ in 0 rows.

Usage:
  python3 tools/check_ann_sf100.py <ann_out_dir> --variant exact|perturbed \
      [--card 2000] [--d11 <dump32> <dump16> <n_expected>]
"""
import sys

import duckdb

out = sys.argv[1]
variant = sys.argv[sys.argv.index("--variant") + 1]
card = int(sys.argv[sys.argv.index("--card") + 1]) if "--card" in sys.argv else 2000
assert variant in ("exact", "perturbed"), variant
con = duckdb.connect()
con.execute("SET threads=16")
fails = []


def check(name, sql, expect_zero=True):
    n = con.execute(sql).fetchone()[0]
    ok = (n == 0) if expect_zero else (n != 0)
    print(f"{'OK  ' if ok else 'FAIL'} {name}: {n}")
    if not ok:
        fails.append(name)


exact = f"'{out}/exact_sample/*.parquet'"

if variant == "exact":
    # E1: rank i of query q must be the i-th SMALLEST copy id (the
    # query's own replica slot skipped): with m = q % card and j =
    # q // card, n_id = m + (i-1)*card for i <= j, m + i*card after.
    check("E1 exact top-10 != the 10 lowest-offset copies (violations)", f"""
      SELECT count(*) FROM {exact}
      WHERE n_id != (q_id % {card})
              + (CASE WHEN rank <= (q_id // {card}) THEN rank - 1 ELSE rank END) * {card}
         OR round(cosine, 3) != 1.0
    """)
else:
    # P1: every exact top-10 neighbor is a twin (same id mod card)
    check("P1 exact top-10 rows outside the query's twin family", f"""
      SELECT count(*) FROM {exact} WHERE n_id % {card} != q_id % {card}
    """)

import glob
import os

for d in sorted(glob.glob(f"{out}/search_*")):
    name = os.path.basename(d)
    appr = f"'{d}/*.parquet'"
    if variant == "exact":
        # E2: the search result equals the exact result row-for-row
        check(f"E2 {name} != exact_sample (symmetric difference)", f"""
          SELECT (SELECT count(*) FROM (SELECT * FROM {appr} EXCEPT SELECT * FROM {exact}))
               + (SELECT count(*) FROM (SELECT * FROM {exact} EXCEPT SELECT * FROM {appr}))
        """)
    else:
        # P2: independent recall@10 recompute
        r = con.execute(f"""
          WITH e AS (SELECT q_id, n_id FROM {exact} WHERE rank <= 10),
               a AS (SELECT q_id, n_id FROM {appr} WHERE rank <= 10),
               h AS (SELECT e.q_id, count(a.n_id) AS hits,
                            count(*) AS n
                     FROM e LEFT JOIN a USING (q_id, n_id) GROUP BY e.q_id)
          SELECT round(avg(hits * 1.0 / n), 4), count(*) FROM h
        """).fetchone()
        print(f"INFO {name}: recall@10 = {r[0]} over {r[1]} queries (independent recompute)")

if "--d11" in sys.argv:
    i = sys.argv.index("--d11")
    d32, d16, nexp = sys.argv[i + 1], sys.argv[i + 2], int(sys.argv[i + 3])
    a = f"'{d32}/*.parquet'"
    b = f"'{d16}/*.parquet'"
    check("D1 duplicate vec_ids", f"""
      SELECT count(*) FROM (SELECT vec_id FROM {a} GROUP BY 1 HAVING count(*) > 1)
    """)
    check("D2 kept <=> group_id == vec_id (violations)", f"""
      SELECT count(*) FROM {a} WHERE kept != (group_id = vec_id)
    """)
    check(f"D3 row count != {nexp}", f"""
      SELECT abs(count(*) - {nexp}) FROM {a}
    """)
    check("D4 group mass: every group's id roster misses its representative", f"""
      SELECT count(*) FROM (
        SELECT group_id FROM {a} GROUP BY group_id
        HAVING sum(CASE WHEN vec_id = group_id THEN 1 ELSE 0 END) != 1)
    """)
    check("D5 32-core vs 16-core symmetric difference", f"""
      SELECT (SELECT count(*) FROM (SELECT * FROM {a} EXCEPT SELECT * FROM {b}))
           + (SELECT count(*) FROM (SELECT * FROM {b} EXCEPT SELECT * FROM {a}))
    """)
    info = con.execute(f"""
      SELECT count(*) FILTER (kept), count(*),
             count(DISTINCT group_id)
      FROM {a}
    """).fetchone()
    print(f"INFO d11: kept {info[0]} of {info[1]} rows, {info[2]} groups")

print("PASS" if not fails else f"FAIL ({len(fails)}): {fails}")
sys.exit(1 if fails else 0)
