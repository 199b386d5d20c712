"""The driver's hash-compare, written once: each registry key against
its DuckDB oracle (SURVEY §2), or a determinism check for the rows-only
keys. The full sweep, the per-key spot-check and the tier-1 tests
(``tests/test_oracle_parity.py`` and friends) all call the three
functions below, so the gate and the artifact cannot drift apart:

- :func:`duck` — DuckDB views over the warehouse tables;
- :func:`check` — one key's record (rows / schema / hash match, or
  determinism), with the first differing rows on a mismatch;
- :func:`summarize` — the artifact summary.

Usage:
    python tools/full_parity.py [ROUND_TAG] [SF_DIR]
        The sweep over every key (SF_DIR defaults to sf0.01). Writes
        PARITY_FULL_{ROUND_TAG}.json at the repo root, a partial one
        every 20 keys.
    python tools/full_parity.py KEY [KEY...] [--sf DIR ...]
        The spot-check of the named keys, at sf0.001 and sf0.01 unless
        ``--sf`` names the warehouses. Writes no artifact.

Both print one status line per key, plus the differing rows of a
failed key, and exit 1 if any key fails. Environment:

- ``SPARK_GRAFT_PARITY_PARTITIONS`` (default 8): shuffle partitions; a
  second sweep under another count catches order-sensitive float
  reductions that sit on a rounding boundary.
- ``SPARK_GRAFT_PARITY_DRIVER_MEM`` (default 4g): the driver heap; the
  default 1g OOMs on the tiled sf1 tables.
- ``SPARK_GRAFT_PARITY_KEY_TIMEOUT`` (default 0, none): a per-key wall
  budget in seconds; a key over it (tiled scale points make some
  pair-family oracles quadratic) is recorded as
  ``err="key_budget_exceeded"`` instead of wedging the sweep.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import threading
import time
import uuid
from collections import Counter
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from b2b_data_pipeline_indiamart_spark.catalog import TABLES  # noqa: E402
from b2b_data_pipeline_indiamart_spark.operators import caching  # noqa: E402
from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES  # noqa: E402

#: rows-only outputs above this size use the distributed fingerprint
#: instead of a 2x driver collect (dedup_minhash_lsh at sf1 emits 31 M
#: candidate pairs — collecting that through py4j twice is exactly the
#: driver-side anti-pattern the engine bans)
_BIG_ROWS = 2_000_000

#: ORACLE outputs above this size switch from the repr-tuple canon
#: (python objects: a 6 M-row orders-grain key at sf10 ballooned past
#: 48 GB RSS and got OOM-killed) to the Arrow path, :func:`_pandas_compare`
BIG_ORACLE_ROWS = 500_000

#: differing rows kept per side in a failed record
_DIFF_ROWS = 5


def _duck_limits() -> tuple[int, int]:
    """(memory, temp spill) bounds for one DuckDB connection, in MiB: a
    quarter of physical RAM (the Spark driver may take half) and half
    the free disk under the temp directory. Unbounded, a long sweep
    accumulated buffer-pool state until one recursive-CTE oracle
    spilled ~75 GB, filled the disk and failed every later key."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    free = shutil.disk_usage(tempfile.gettempdir()).free
    return ram // 4 >> 20, free // 2 >> 20


def duck(sf: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per warehouse table of ``sf``.
    A table that is a directory of part files (``tools/scale_up.py``
    output) is read through a glob. The spill directory is private to
    the connection (sweeps sharing one clean up each other's files and
    abort with an IOException); DuckDB creates it on first spill and
    removes it on close."""
    con = duckdb.connect()
    mem_mib, tmp_mib = _duck_limits()
    spill = Path(tempfile.gettempdir()) / f"duck_parity_{uuid.uuid4().hex}"
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET memory_limit = '{mem_mib}MiB'")
    con.execute(f"SET max_temp_directory_size = '{tmp_mib}MiB'")
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if Path(p).is_dir():
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, float):
        # NaN canon, -0.0 collapses to 0.0, shortest round-trip repr
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    return repr(v) if isinstance(v, int) else str(v)


def _comparable(cols, rows):
    """The driver's canon: columns sorted by name, every value through
    :func:`_norm`, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _repr_compare(scols, srows, dcols, drows) -> dict:
    a, b = _comparable(scols, srows), _comparable(dcols, drows)
    rec = {
        "rows_match": len(srows) == len(drows),
        "schema_match": sorted(scols) == sorted(dcols),
        "hash_match": a == b,
        "spark_rows": len(srows),
        "oracle_rows": len(drows),
        "err": None,
    }
    if not rec["schema_match"]:
        rec["diff"] = {"spark_cols": sorted(scols), "oracle_cols": sorted(dcols)}
    elif not rec["hash_match"]:
        sa, sb = Counter(a), Counter(b)
        rec["diff"] = {
            "spark_only": sorted((sa - sb).elements())[:_DIFF_ROWS],
            "oracle_only": sorted((sb - sa).elements())[:_DIFF_ROWS],
        }
    return rec


def _arrow_kind(t):
    """Normalized logical kind of an Arrow type, mirroring the
    repr-tuple canon's equivalence classes: Python ints compare equal
    regardless of width (int64 == HUGEINT/decimal-scale-0), floats
    are their own class (repr(5.0) != repr(5)), bools are NOT ints
    (repr(True) != '1'), decimals with scale > 0 are distinct from
    floats (str('5.00') != repr(5.0))."""
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return "int" if t.scale == 0 else "decimal"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    return str(t)


def _pandas_compare(sdf, con, sql):
    """Memory-safe hash-compare for big oracle outputs: both sides land
    as Arrow tables (~50× smaller than Row objects), are sorted by every
    column with pandas.sort_values (NaN last, the driver canon) and
    compared vectorized. schema_match needs the column names and the
    :func:`_arrow_kind` of each to agree, so a Spark BIGINT vs an oracle
    DOUBLE (5 vs 5.0) fails as it does under the repr canon; the kind
    pairs are recorded for audit. tests/test_round14_ops.py pins the
    equivalence of the two paths."""
    import numpy as np

    sat = sdf.toArrow()
    dat = con.execute(sql).arrow()
    skinds = {f.name: _arrow_kind(f.type) for f in sat.schema}
    dkinds = {f.name: _arrow_kind(f.type) for f in dat.schema}
    spd = sat.to_pandas()
    dpd = dat.to_pandas()
    scols, dcols = sorted(spd.columns), sorted(dpd.columns)
    rec = {
        "rows_match": len(spd) == len(dpd),
        "schema_match": scols == dcols
        and all(skinds[c] == dkinds[c] for c in scols),
        "hash_match": False,
        "spark_rows": int(len(spd)),
        "oracle_rows": int(len(dpd)),
        "err": None,
        "pandas_compared": True,
        "dtypes": {
            c: [skinds.get(c), dkinds.get(c)]
            for c in sorted(set(scols) | set(dcols))
        },
    }
    if not (rec["rows_match"] and rec["schema_match"]):
        return rec
    spd = spd[scols].sort_values(scols, kind="mergesort").reset_index(drop=True)
    dpd = dpd[dcols].sort_values(dcols, kind="mergesort").reset_index(drop=True)
    for c in scols:
        a, b = spd[c], dpd[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av, bv = a.astype("float64").values, b.astype("float64").values
            # exact equality after the registry's own rounding; NaN==NaN;
            # -0.0 == 0.0 under IEEE ==, matching the repr(+0.0) collapse
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            av, bv = a.values, b.values
            eq = (av == bv) | (
                (a.isna().values if hasattr(a, "isna") else False)
                & (b.isna().values if hasattr(b, "isna") else False)
            )
        if not bool(np.all(eq)):
            first = int(np.argmin(eq))
            rec["diff"] = {
                "column": c,
                "sorted_row": first,
                "spark": [str(v) for v in spd.iloc[first]],
                "oracle": [str(v) for v in dpd.iloc[first]],
            }
            return rec
    rec["hash_match"] = True
    return rec


def _fingerprint(df):
    """Order-independent determinism fingerprint computed ON the
    executors: xxhash64 over every column's string form per row,
    folded with two modular sums + count. Two runs of a deterministic
    query produce identical fingerprints; no rows reach the driver."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    m1, m2 = 2_000_000_011, 1_999_999_973  # ~2e9 primes: sum < 2^63
    row = df.select(
        F.pmod(h, F.lit(m1)).alias("h1"), F.pmod(h, F.lit(m2)).alias("h2")
    ).agg(
        F.sum("h1").alias("s1"),
        F.sum("h2").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (row["s1"], row["s2"], row["n"])


def check(spark, con, key: str, sf: str) -> dict:
    """One key's parity record. An oracle key is compared with its
    DuckDB oracle on ``con``: through the repr canon, in one DuckDB
    query, unless the oracle returns more than :data:`BIG_ORACLE_ROWS`
    rows, in which case the query is rerun through the Arrow path. A
    rows-only key is run twice and must return the same rows, compared
    by fingerprint above ``_BIG_ROWS``; the caches of the first run are
    released first, so the rerun recomputes every persisted stage
    instead of reading the first run's blocks. Exceptions propagate."""
    fn = QUERIES[key]
    sdf = fn(spark, sf)
    if key in ORACLE:
        res = con.execute(ORACLE[key])
        drows = res.fetchmany(BIG_ORACLE_ROWS + 1)
        if len(drows) > BIG_ORACLE_ROWS:
            del drows  # the Arrow path reruns the query columnar
            return _pandas_compare(sdf, con, ORACLE[key])
        dcols = [d[0] for d in res.description]
        srows = [tuple(r) for r in sdf.collect()]
        return _repr_compare(sdf.columns, srows, dcols, drows)
    fingerprinted = sdf.count() > _BIG_ROWS
    if fingerprinted:
        fp = _fingerprint(fn(spark, sf))
        caching.release_cached()
        n, same = fp[2], fp == _fingerprint(fn(spark, sf))
    else:
        srows = [tuple(r) for r in sdf.collect()]
        caching.release_cached()
        again = [tuple(r) for r in fn(spark, sf).collect()]
        n, same = len(srows), sorted(map(str, srows)) == sorted(map(str, again))
    rec = {"rows_match": None, "schema_match": None, "hash_match": None,
           "spark_rows": n, "oracle_rows": None, "deterministic": same,
           "err": "no_oracle"}
    if fingerprinted:
        rec["fingerprinted"] = True
    return rec


def _ok(rec: dict) -> bool:
    if rec.get("err") == "no_oracle":
        return bool(rec.get("deterministic"))
    return bool(rec.get("hash_match"))


def _budget_skipped(rec: dict) -> bool:
    return (rec.get("err") or "").startswith("key_budget_exceeded")


def summarize(records: dict, sf: str, elapsed: float) -> dict:
    """The artifact summary of ``{key: record}`` checked on ``sf``."""
    oracle_keys = [k for k in records if k in ORACLE]
    return {
        "sf_dir": sf,
        "elapsed_sec": round(elapsed, 1),
        "total_keys": len(records),
        "oracle_keys": len(oracle_keys),
        "hash_pass": sum(1 for k in oracle_keys if records[k]["hash_match"]),
        "rows_only": len(records) - len(oracle_keys),
        "rows_only_deterministic": sum(
            1 for r in records.values()
            if r.get("err") == "no_oracle" and r.get("deterministic")
        ),
        "budget_skipped": sum(1 for r in records.values() if _budget_skipped(r)),
    }


def _with_budget(spark, con, budget: float, body):
    """Run ``body``; after ``budget`` seconds a watchdog interrupts
    DuckDB and cancels the Spark jobs."""
    if not budget:
        return body()
    done = threading.Event()

    def watchdog():
        if not done.wait(budget):
            # re-check done before EACH cancel: if body() returned just
            # as the budget elapsed, an unconditional interrupt would
            # land on the NEXT key's query and fail it spuriously
            if not done.is_set():
                try:
                    con.interrupt()
                except Exception:  # noqa: BLE001
                    pass
            if not done.is_set():
                try:
                    spark.sparkContext.cancelAllJobs()
                except Exception:  # noqa: BLE001
                    pass

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        return body()
    finally:
        done.set()
        t.join()  # no key starts while a cancel could be in flight


def run(spark, keys, sfs, budget: float, artifact: Path | None) -> int:
    """Check ``keys`` on each warehouse of ``sfs``; the exit code, 1 if
    any key failed."""
    failed = 0
    for sf in sfs:
        out = _run_sf(spark, keys, sf, budget, artifact)
        failed += sum(not _ok(r) and not _budget_skipped(r) for r in out.values())
    return 1 if failed else 0


def _run_sf(spark, keys, sf: str, budget: float, artifact: Path | None) -> dict:
    """Check ``keys`` on ``sf`` in order, printing one status line per
    key. Writes ``artifact`` (when given) every 20 keys and at the end."""
    def write(summary):
        if artifact is not None:
            artifact.write_text(json.dumps({"summary": summary, "keys": out}, indent=1))

    out: dict[str, dict] = {}
    con = duck(sf)
    t0 = time.time()
    for n_done, key in enumerate(keys):
        if n_done and n_done % 40 == 0:
            # a fresh connection every 40 keys drops the buffer-pool
            # state that heavy MATERIALIZED oracles leave behind
            con.close()
            con = duck(sf)
        t_key = time.time()
        try:
            rec = _with_budget(spark, con, budget,
                               lambda: check(spark, con, key, sf))
        except Exception as exc:  # noqa: BLE001 — the artifact records failures
            err = f"{type(exc).__name__}: {exc}"[:500]
            if budget and time.time() - t_key >= budget:
                err = f"key_budget_exceeded ({budget:.0f}s): " + err[:300]
            rec = {"rows_match": False, "schema_match": False,
                   "hash_match": False, "spark_rows": None,
                   "oracle_rows": None, "err": err}
            # a heavy key can kill the JVM; every later key would then
            # fail in milliseconds. Abort with the partial artifact so
            # a resumed run continues on a fresh JVM.
            try:
                spark.range(1).count()
            except Exception:  # noqa: BLE001
                out[key] = rec
                print(f"{key}: FAIL (session dead — aborting sweep)", flush=True)
                write({"partial": True, "aborted": "dead JVM", "keys_done": len(out)})
                raise SystemExit(2)
        caching.release_cached()
        out[key] = rec
        if _ok(rec):
            status = "ok (fingerprint)" if rec.get("fingerprinted") else "ok"
        elif _budget_skipped(rec):
            status = "SKIP (budget)"
        else:
            status = "FAIL"
        print(f"{Path(sf).name} {key}: {status} spark={rec['spark_rows']} "
              f"oracle={rec['oracle_rows']}", flush=True)
        detail = rec.get("diff") or (rec["err"] if rec["err"] != "no_oracle" else None)
        if not _ok(rec) and detail:
            print(f"  {json.dumps(detail)}", flush=True)
        if len(out) % 20 == 0:
            write({"partial": True, "keys_done": len(out)})
    con.close()
    summary = summarize(out, sf, time.time() - t0)
    write(summary)
    print(json.dumps(summary), flush=True)
    return out


def _parse(argv: list[str]) -> tuple[list[str], list[str], Path | None]:
    """(keys, warehouse dirs, artifact path or None) from the command line."""
    keys, sfs, rest = [], [], []
    it = iter(argv)
    for a in it:
        if a == "--sf":
            sfs.append(next(it, None) or sys.exit("--sf needs a directory"))
        elif a in QUERIES:
            keys.append(a)
        else:
            rest.append(a)
    if keys:
        if rest:
            sys.exit(f"unknown keys: {rest}")
        return keys, sfs or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"], None
    tag = rest[0] if rest else "r0"
    return list(QUERIES), sfs or rest[1:2] or ["/root/testdata/sf0.01"], (
        REPO / f"PARITY_FULL_{tag}.json"
    )


def main(argv: list[str]) -> int:
    keys, sfs, artifact = _parse(argv)

    from pyspark.sql import SparkSession

    env = os.environ.get
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", env("SPARK_GRAFT_PARITY_PARTITIONS", "8"))
        .config("spark.driver.memory", env("SPARK_GRAFT_PARITY_DRIVER_MEM", "4g"))
        # the Arrow path collects up to ~10 M-row frames (1-2 GB
        # serialized): the 1 GB default would record a spurious FAIL
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .appName("full-parity")
        .getOrCreate()
    )
    code = run(spark, keys, sfs, float(env("SPARK_GRAFT_PARITY_KEY_TIMEOUT", "0")), artifact)
    spark.stop()
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
