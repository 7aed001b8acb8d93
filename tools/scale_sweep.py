"""Scale sweep: measure the most expensive operators a decade past sf0.1.

Round-3's sweeps were run from throwaway scripts; this checks the
harness in. It tiles the sf0.1 ``documents``/``embeddings`` tables K×
into /tmp (sf0.1 × 10 ≈ sf1: 50k docs / 20k vectors), then times the
five most expensive registered operators at each K and prints one JSON
line per K — the numbers behind SCALE.md's measured-scaling claims.

Tiling is NOT plain copying — a verbatim copy would make every doc a
near-duplicate of its K-1 clones, turning the pair graph quadratic in
K and measuring an artificial blowup instead of corpus growth:

- documents: every copy (including copy 0, so all scales are
  comparable) RELABELS its vocabulary — each token gets a
  copy-specific suffix. A per-copy bijection on the vocabulary leaves
  every within-copy statistic (shingle sets, document frequencies,
  Jaccard/containment structure) exactly isomorphic to the original
  corpus while no shingle matches across copies, so duplicate DENSITY
  stays constant as the corpus grows — the honest scaling setup. (An
  earlier interleaved-salt design was wrong: `salt w salt` shingles
  inherit WORD-level document frequencies, densifying the inverted
  index ~8× at identical corpus size.)
- embeddings: copy c rotates each vector by c positions — norm
  preserved, cosine to the original decorrelated, deterministic.

The LSH near-dup detector runs with its N-DERIVED plane count (the
operator default) — at 50k vectors that is 14 planes/table, the knob
SCALE.md documents; the registered floor-pinned variant exists only so
a static oracle string can match at any sf.

Usage: python tools/scale_sweep.py [--copies 1 3 10] [--runs 2]
       [--base /root/testdata/sf0.1] [--out /tmp/spark_graft_sweep]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from f1_realtime_data_pipeline_spark.functions import vector as vec  # noqa: E402
from f1_realtime_data_pipeline_spark.operators import dedup as dd  # noqa: E402
from f1_realtime_data_pipeline_spark.operators import similarity as sim  # noqa: E402
from f1_realtime_data_pipeline_spark.plans import llm_star  # noqa: E402
from f1_realtime_data_pipeline_spark.session import get_spark  # noqa: E402

#: id offset per copy — far above the planted-copy offsets (1M/2M) so
#: tiled ids and planted ids never collide at any K
COPY_OFF = 10_000_000


def build_scaled(spark, base: str, out: str, k: int) -> str:
    dst = f"{out}/k{k}"
    if os.path.exists(f"{dst}/_OK"):
        return dst
    docs = spark.read.parquet(f"{base}/documents.parquet")
    embs = spark.read.parquet(f"{base}/embeddings.parquet")
    doc_parts = []
    emb_parts = []
    for c in range(k):
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + c * COPY_OFF).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split("text", " "), lambda x: F.concat(x, F.lit(f"c{c}"))
                    ),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        dim = 64
        rot = c % dim
        rotated = (
            F.concat(
                F.slice("embedding", rot + 1, dim - rot),
                F.slice("embedding", 1, rot),
            )
            if rot
            else F.col("embedding")
        )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + c * COPY_OFF).alias("vec_id"),
                rotated.alias("embedding"),
                "label",
            )
        )
    d = doc_parts[0]
    for p in doc_parts[1:]:
        d = d.unionAll(p)
    e = emb_parts[0]
    for p in emb_parts[1:]:
        e = e.unionAll(p)
    d.write.mode("overwrite").parquet(f"{dst}/documents.parquet")
    e.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")
    open(f"{dst}/_OK", "w").close()
    return dst


#: fact tables tiled K× with per-copy key offsets; every key column
#: that participates in a join gets the SAME +c*COPY_OFF shift, so
#: each copy is a self-contained, referentially-intact TPC-H instance.
#: nation/region are NOT tiled — dimension tables stay fixed-size as a
#: warehouse scales (that is how TPC-H itself defines SF growth), so
#: fact→dim join fan-in grows 10× per dim key, the honest skew shape.
_FACT_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
}


def build_scaled_relational(spark, base: str, out: str, k: int) -> str:
    """Tile the TPC-H facts + events K× into the same k{K} dir.

    events.parquet is read through read_events (the generator writes
    TIMESTAMP(NANOS); the reader normalizes to micros TimestampType)
    and re-written with plain micros — read_events handles both
    physical types, so downstream plans are unchanged.
    """
    from f1_realtime_data_pipeline_spark.sources.parquet import read_table

    dst = f"{out}/k{k}"
    os.makedirs(dst, exist_ok=True)
    if os.path.exists(f"{dst}/_OK_REL"):
        return dst
    for tbl, keys in _FACT_KEYS.items():
        src = read_table(spark, base, tbl)
        parts = []
        for c in range(k):
            p = src
            for key in keys:
                p = p.withColumn(key, F.col(key) + F.lit(c * COPY_OFF))
            parts.append(p)
        tiled = parts[0]
        for p in parts[1:]:
            tiled = tiled.unionAll(p)
        tiled.write.mode("overwrite").parquet(f"{dst}/{tbl}.parquet")
    for tbl in ("nation", "region"):
        spark.read.parquet(f"{base}/{tbl}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst}/{tbl}.parquet")
    open(f"{dst}/_OK_REL", "w").close()
    return dst


def sweep_queries(spark, sf_dir: str):
    """(name, thunk) pairs for the five most expensive operators.
    e_cosine_neardup uses the operator-default derived plane count
    (the scale knob), on the same planted-copy fixture the registered
    query uses."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    return [
        ("d_ngram_jaccard", lambda: qs["d_ngram_jaccard"](spark, sf_dir)),
        ("d_containment", lambda: qs["d_containment"](spark, sf_dir)),
        ("d_simhash_pairs", lambda: qs["d_simhash_pairs"](spark, sf_dir)),
        ("d_dup_clusters", lambda: qs["d_dup_clusters"](spark, sf_dir)),
        # r9 (VERDICT r8 #5): the second CC-family member — the r8
        # 100× sweep covered the LSH/derived-plane family only, and
        # iterative pointer-jumping (rounds ∝ longest chain, many
        # small jobs) is the one remaining plausible super-linear axis
        ("e_neardup_clusters", lambda: qs["e_neardup_clusters"](spark, sf_dir)),
        (
            "e_cosine_neardup_derived",
            lambda: sim.cosine_neardup_lsh_pairs(
                llm_star._embs_neardup(spark, sf_dir), threshold=0.9
            ),
        ),
        ("e_semdedup", lambda: qs["e_semdedup"](spark, sf_dir)),
        # r5: the bigram-LM scorer — per-copy vocabulary relabeling
        # grows the bigram/prefix count tables ~K×, the honest test of
        # its vocab-bounded aggregation claim
        ("t_bigram_quality", lambda: qs["t_bigram_quality"](spark, sf_dir)),
        # the batch kNN join with CORPUS-DERIVED planes — the 100 TB
        # form, REGISTERED since r6 (oracle re-derives the plane count
        # from COUNT(*) in-plan). The pinned-6-plane e_knn_join keeps
        # occupancy ∝N; this keeps it constant.
        ("e_knn_join_derived", lambda: qs["e_knn_join_derived"](spark, sf_dir)),
        # r6: span splice with a PLANTED 10%-frequency boilerplate
        # span (every 10th doc shares an 8-token prefix, so ONE span's
        # occurrence list is 10% of the corpus — vocabulary relabeling
        # does not apply to the planted literal, so its df genuinely
        # grows with K). The hot-span two-path guard (dedup.span_dedup,
        # VERDICT r5 #7) must keep wall flat-per-decade where the bare
        # span window would concentrate 10% of all spans in one task.
        # r6 selection/audit surface: the three entries whose state
        # COULD grow with the corpus — DSIR's token count tables
        # (vocab-bounded, relabeling grows vocab ~K×), the CMS counter
        # build (1536 cells CONSTANT by construction — the claim the
        # sweep verifies), and the MinHash calibration audit (banded
        # candidates + hash-keyed verify, the minhash_lsh shapes)
        ("t_dsir_select", lambda: qs["t_dsir_select"](spark, sf_dir)),
        ("t_heavy_hitters_cms", lambda: qs["t_heavy_hitters_cms"](spark, sf_dir)),
        ("d_minhash_est_audit", lambda: qs["d_minhash_est_audit"](spark, sf_dir)),
        # r7: semantic decontamination — derived planes + broadcast
        # test side; candidate volume per train vector must stay
        # constant as the corpus grows (same claim as the near-dup
        # detector, but with the asymmetric train/test join)
        ("e_semantic_decontam", lambda: qs["e_semantic_decontam"](spark, sf_dir)),
        # r7: DoReMi-lite — the only corpus-scale stage is the bigram
        # scoring pass; the MW loop runs on the |sources|-row domain
        # relation, so wall must track t_bigram_quality's curve
        ("t_domain_weights", lambda: qs["t_domain_weights"](spark, sf_dir)),
        (
            "d_span_splice_hotspan",
            lambda: dd.span_splice(
                spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 10 == 0,
                        F.concat(
                            F.lit(
                                "alpha beta gamma delta epsilon zeta eta theta "
                            ),
                            F.col("text"),
                        ),
                    ).otherwise(F.col("text")),
                )
            ),
        ),
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", nargs="*", type=int, default=[1, 3, 10])
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_sweep")
    ap.add_argument(
        "--bench",
        action="store_true",
        help="after tiling ALL tables (facts + docs/embs), run the full "
        "bench.py HEADLINE at each K in a fresh process (one JSON line "
        "per K, same shape as BENCH_r{N}) — the decade point for the "
        "entire suite, not just the dedup/similarity sweep set",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark("scale_sweep")
    if args.bench:
        import subprocess

        for k in args.copies:
            sf_dir = build_scaled(spark, args.base, args.out, k)
            build_scaled_relational(spark, args.base, args.out, k)
            env = dict(
                os.environ,
                SPARK_GRAFT_SF_DIR=sf_dir,
                SPARK_GRAFT_BENCH_RUNS=os.environ.get(
                    "SPARK_GRAFT_BENCH_RUNS", "1"
                ),
            )
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "bench.py")],
                env=env,
                capture_output=True,
                text=True,
                check=True,
            )
            line = proc.stdout.strip().splitlines()[-1]
            print(json.dumps({"k": k, **json.loads(line)}), flush=True)
        return 0
    for k in args.copies:
        sf_dir = build_scaled(spark, args.base, args.out, k)
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        timings = {}
        for name, thunk in sweep_queries(spark, sf_dir):
            if args.names and name not in args.names:
                continue
            best = float("inf")
            for _ in range(args.runs):
                t0 = time.time()
                thunk().write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 2)
        print(
            json.dumps(
                {"k": k, "n_docs": n_docs, "n_vecs": n_vecs, "queries": timings}
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
