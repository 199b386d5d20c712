"""Synthesize a larger BENCH-ONLY scale point by tiling the driver's
sf0.1 tables (VERDICT r9 item 8: every shipped sf dir is tiny, so the
2x perf gate is startup-overhead-dominated; a 10x point makes the
headline measure actual scan/shuffle/agg work).

This is strictly a bench input — correctness gates (driver window,
full parity, oracle pytest) stay on the UNTOUCHED /root/testdata dirs.
Tiling preserves the generator's distributions exactly within each
replica and remaps every primary/foreign key by a per-replica stride,
so join fan-outs, group cardinalities per key, and skew shape scale
linearly — the property a throughput benchmark needs. Two deliberate
de-dup tweaks keep workload character at 1x rates instead of
inflating the near-dup families quadratically (VERDICT r11 #5: the
old " rN" text suffix left cross-replica char-5-gram Jaccard ≈ 1, so
every m-doc near-dup cluster became a 10m-doc cluster and the LSH
candidate set grew ~K^2 to 31 M pairs):

- **documents**: replicas > 0 replace every 2nd non-empty word with
  ``hex(xxhash64(rep, word_index, word))`` (8 chars). Cross-replica
  copies then share only the odd-position words, dropping their
  shingle Jaccard to ~0.17 — far below the LSH S-curve threshold
  (~0.5) — while WITHIN a replica all structure is preserved exactly:
  the salt depends on (rep, position, word), not doc_id, so two docs
  that were exact/near duplicates of each other stay exact/near
  duplicates after salting, and the per-replica natural dup rate is
  the generator's. n_chars is recomputed when it tracked len(text).
- **embeddings**: replicas > 0 apply a per-replica SIGNED COORDINATE
  PERMUTATION (an orthogonal transform, derived deterministically
  from md5(rep, dim) — no RNG). Within a replica every inner product,
  norm, distance and cluster is preserved EXACTLY (orthogonality), so
  the natural cosine-near-dup rate per replica is the generator's;
  across replicas cos(v, s·Pv) is ~N(0, 1/64), far below the 0.3-0.35
  thresholds the embedding keys use, so the old 1e-4-nudge problem
  (cross-replica cosine ≈ 1.0 → K^2 pair blowup) is gone.

Usage: python tools/scale_up.py [K] [OUT_DIR]
  K        replicas of sf0.1 (default 10 → "sf1")
  OUT_DIR  default /root/repo/spark-warehouse/sf1

bench.py auto-detects OUT_DIR and, when present, emits an extra
"headline_sf1" JSON line (never the LAST line — the driver's parsed
headline record stays the frozen compact object).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC = "/root/testdata/sf0.1"

#: table -> (primary key, {fk column -> key-space table})
KEYMAP: dict[str, tuple[str | None, dict[str, str]]] = {
    "region": (None, {}),
    "nation": (None, {}),
    "customer": ("c_custkey", {}),
    "supplier": ("s_suppkey", {}),
    "part": ("p_partkey", {}),
    "orders": ("o_orderkey", {"o_custkey": "customer"}),
    "lineitem": (None, {"l_orderkey": "orders",
                        "l_partkey": "part",
                        "l_suppkey": "supplier"}),
    "events": ("event_id", {"user_id": "events_user"}),
    "documents": ("doc_id", {}),
    "embeddings": ("vec_id", {}),
}


def _rotations(k: int, dim: int) -> tuple[list, list]:
    """Per-replica signed coordinate permutations (orthogonal maps),
    derived deterministically from md5 — no RNG, so rebuilds are
    byte-identical. ``perms[r]`` is a 1-based source-index list
    (replica 0 = identity, unused) and ``signs[r]`` the ±1 flips:
    replica r's vector is ``[sign[d] * v[perm[d]] for d]``. Signed
    permutations preserve every within-replica inner product exactly
    while cross-replica cos(v, sPv) concentrates at ~N(0, 1/dim)."""
    import hashlib

    perms, signs = [], []
    for r in range(k):
        keyed = sorted(
            range(dim),
            key=lambda d: hashlib.md5(f"perm_{r}_{d}".encode()).digest(),
        )
        perms.append([s + 1 for s in keyed])
        signs.append([
            1 if hashlib.md5(f"sign_{r}_{d}".encode()).digest()[0] % 2
            else -1
            for d in range(dim)
        ])
    return perms, signs


def build(out_dir, k: int = 10, spark=None) -> None:
    """Tile SRC into ``out_dir`` (callable from bench.py with its warm
    session — VERDICT r10 #3: the sf1 bench line needs driver
    provenance, so bench builds the gitignored dir when absent)."""
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark import catalog, session

    own_session = spark is None
    if own_session:
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            # the 1g local-mode default heap OOMs in the parquet
            # writer at k=100 (60M-row lineitem partitions)
            .config("spark.driver.memory", session.default_driver_memory())
            .appName("scale-up")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    # per-key-space stride = 1 + max id in the source, so replica i's
    # ids live in [i*stride, (i+1)*stride) and never collide
    strides: dict[str, int] = {}
    for t, (pk, _) in KEYMAP.items():
        if pk is not None:
            mx = catalog.load(spark, SRC, t).agg(F.max(pk)).first()[0]
            strides[t] = int(mx) + 1
    strides["events_user"] = int(
        catalog.load(spark, SRC, "events").agg(F.max("user_id")).first()[0]
    ) + 1

    rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__rep")
    for t, (pk, fks) in KEYMAP.items():
        df = catalog.load(spark, SRC, t)
        if pk is None and not fks:  # fixed dims: copy once, no tiling
            out = df
        else:
            out = df.select("*", rep)
            if pk is not None:
                out = out.withColumn(
                    pk, F.col(pk) + F.col("__rep") * F.lit(strides[t])
                )
            for col, space in fks.items():
                out = out.withColumn(
                    col, F.col(col) + F.col("__rep") * F.lit(strides[space])
                )
            if t == "documents":
                tracked = F.col("n_chars") == F.length("text")
                salted = F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w, i: F.when(
                            (i % 2 == 1) & (F.length(w) > 0),
                            F.lower(F.substring(F.hex(
                                F.xxhash64(F.col("__rep"), i, w)
                            ), 1, 8)),
                        ).otherwise(w),
                    ),
                    " ",
                )
                out = out.withColumn(
                    "text",
                    F.when(F.col("__rep") > 0, salted)
                    .otherwise(F.col("text")),
                )
                out = out.withColumn(
                    "n_chars",
                    F.when(tracked, F.length("text")).otherwise(
                        F.col("n_chars")
                    ).cast("long"),
                )
            if t == "embeddings" and k > 1:
                # ADVICE r12 guards: k=1 has no replicas to rotate (the
                # range(1, k) loop would leave `rotated` None), and an
                # empty / NULL-first-row embeddings table has no dim to
                # read — skip rotation, the tile loop alone is correct.
                first = (
                    df.select("embedding")
                    .filter(F.col("embedding").isNotNull())
                    .first()
                )
                if first is None:
                    print("embeddings: no non-null rows, rotation "
                          "skipped", flush=True)
                else:
                    dim = len(first[0])
                    etype = df.schema["embedding"].dataType
                    perms, signs = _rotations(k, dim)
                    rotated = None
                    for r in range(1, k):
                        arr = F.array(*[
                            F.element_at("embedding", perms[r][d])
                            * F.lit(float(signs[r][d]))
                            for d in range(dim)
                        ]).cast(etype)
                        rotated = (
                            F.when(F.col("__rep") == r, arr)
                            if rotated is None
                            else rotated.when(F.col("__rep") == r, arr)
                        )
                    out = out.withColumn(
                        "embedding", rotated.otherwise(F.col("embedding"))
                    )
            out = out.drop("__rep")
        n = out.count()
        # write partitions scale with the replica count so per-task
        # row volume stays ~sf1-sized at any k (k=10 keeps the
        # historical 8 files; k=100 writes 80)
        (out.repartition(max(8, (k * 8) // 10))
            .write.mode("overwrite")
            .parquet(str(out_dir / f"{t}.parquet")))
        print(f"{t}: {n} rows", flush=True)
    print(f"done in {time.time() - t0:.1f}s -> {out_dir}", flush=True)
    if own_session:
        spark.stop()


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = Path(sys.argv[2]) if len(sys.argv) > 2 else (
        REPO / "spark-warehouse" / "sf1"
    )
    build(out_dir, k)


if __name__ == "__main__":
    main()
