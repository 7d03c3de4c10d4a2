#!/usr/bin/env python3
"""Measure the DuckDB side of the BASELINE comparison (BASELINE.md §operative)
under the SAME protocol as graft.Bench (ADVICE r12: the old single-timed-pass
baseline scrubbed host-stall noise from graft's headline but left it in the
DuckDB number — a one-sided bias in the side-by-side):

  * one warm-up pass, then PASSES timed passes per query (default 3; read
    from SPARK_GRAFT_PASSES — the same env var graft.Bench honors, so an
    override keeps the two sides of a side-by-side symmetric)
  * stall repair identical to Bench.scala: any pass with
    t > min + max(2 s, 0.5*min) is re-run (cap 2 re-runs/query); the re-run
    REPLACES the stalled time in the median basis and the stalled time
    persists under "stalled" — forensics, not erasure
  * sub-second protocol: if the post-repair median < 2.5 s, take 2 extra
    passes; headline = median of the LAST 3 (same SubSecCut as graft)
  * headline per query = that median; total_sec = sum of headlines
  * burn_ms_py: a python xorshift host probe in the spirit of the JVM
    burn_ms graft.Bench records — a HOST fingerprint only (pure-python is
    ~100x slower per step, so the value is not cross-runtime comparable;
    hence the distinct key name)

Output keeps the historical top-level shape ({"total_sec", "queries": {name:
headline}}) that Bench.scala embeds and bench_compare-style consumers read,
and adds "band" ({name: {min, med, runs, stalled?}}), "stall_reruns" and
"burn_ms" for forensics.

SPARK_GRAFT_ONLY=q31,q34 times only those queries, with graft.Bench's
semantics (SparkEntry.select): comma-separated exact qNN prefixes; a prefix
that matches no query exits non-zero and names itself.

Usage: python3 tools/duckdb_bench.py /root/testdata/sf0.1 /tmp/verify_sf01
Writes the JSON record to stdout.
"""
import json, os, statistics, sys, time
import duckdb

PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
SUBSEC_CUT = 2.5
STALL_RERUN_CAP = 2


def burn_ms() -> int:
    # 2e7 steps (a tenth of the JVM probe's 2e8): pure-python xorshift is
    # ~100x slower per step, so the full count would burn a minute just
    # fingerprinting; the number is a HOST probe, not cross-runtime
    x = 88172645463325252
    t0 = time.time()
    for _ in range(20000000 // 100000):
        for _ in range(100000):
            x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
            x ^= x >> 7
            x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    return round((time.time() - t0) * 1000)


def is_stall(t: float, mn: float) -> bool:
    return t > mn + max(2.0, 0.5 * mn)


def median(ts):
    return statistics.median(ts)


def headline(ts):
    return median(ts[-PASSES:])


sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
con.execute("PRAGMA threads=32")
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
only = os.environ.get("SPARK_GRAFT_ONLY")
if only is not None:
    keys = {k.strip() for k in only.split(",") if k.strip()}
    unknown = keys - {n.split("_")[0] for n in oracle}
    if unknown:
        sys.exit("SPARK_GRAFT_ONLY entries matched no query: "
                 + ",".join(sorted(unknown)))
    oracle = {n: q for n, q in oracle.items() if n.split("_")[0] in keys}

# python-side burn is ~20-40x slower than the JVM's per iteration; it is a
# HOST fingerprint, not a cross-runtime comparable — record it as burn_ms_py
bms = burn_ms()

queries, band = {}, {}
stall_total = 0
for name in sorted(oracle):
    sql = oracle[name]
    try:
        con.sql(sql).fetchall()  # warm-up (plan + buffer cache)

        def timed():
            t0 = time.time()
            con.sql(sql).fetchall()
            return time.time() - t0

        basis = [timed() for _ in range(PASSES)]
        stalled = []

        def sweep():
            # re-runs can lower the min and expose a further stall, hence
            # the loop — bounded by the shared cap (mirrors Bench.scala)
            while len(stalled) < STALL_RERUN_CAP:
                mn = min(basis)
                idx = next((i for i, t in enumerate(basis)
                            if is_stall(t, mn)), -1)
                if idx < 0:
                    return
                stalled.append(basis[idx])
                basis[idx] = timed()

        sweep()
        if median(basis) < SUBSEC_CUT:
            basis.extend(timed() for _ in range(2))
            sweep()
        stall_total += len(stalled)
        h = headline(basis)
        queries[name] = round(h, 4)
        rec = {"min": round(min(basis), 4), "med": round(h, 4),
               "runs": [round(t, 4) for t in basis]}
        if stalled:
            rec["stalled"] = [round(t, 4) for t in stalled]
        band[name] = rec
    except Exception as e:
        queries[name] = None
        print(f"ERR {name}: {e}", file=sys.stderr)

total = round(sum(v for v in queries.values() if v), 2)
print(json.dumps({"total_sec": total, "passes": PASSES,
                  "stall_reruns": stall_total, "burn_ms_py": bms,
                  "queries": queries, "band": band}))
