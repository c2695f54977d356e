"""Order-of-magnitude scale soak (round-2 VERDICT item #6).

Runs the FULL PERSISTED pipeline — not the in-memory bench cascade —
over ~10^8 synthesized turns at a fixed parallelism, to surface the
behaviors 30-second runs cannot: block-store month-group memory, the
bucketed insertInto publish at thousands of day×bucket files, spill
under real write pressure, and manifest bookkeeping at ~10^2 days ×
10^2 buckets.

    python scripts/scale_soak.py [--turns 100000000] [--cores 8]
        [--layout bucketed] [--compress] [--data /tmp/grass_soak]

Prints one JSON line: {"turns": N, "gen_sec": g, "pipeline_sec": p,
"turns_per_sec": r, ...}.  The generated raw table is cached on disk
(marker file) so re-runs measure only the pipeline.

The other 29 legs soak one operator family each; one selector flag
(``--dsir-docs N``, ``--seq-events N``, ... see ``--help``) picks a
leg, and two selector flags are a usage error.  Every leg is declared
once in the registry below, with its flags, and runs on a small harness:
``cached`` generates an input once, ``lohi`` times a leg at lo=2 and
hi=``--cores`` in interleaved rounds (such a leg needs ``--cores`` > 2),
and ``hot_bot_events``/``boiler_docs`` build the adversarial inputs
several legs share.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Pin BLAS to one thread per Python worker: the Arrow soak legs
# (semdedup/semdecon) run numpy matmuls inside pyspark workers, and an
# unpinned OpenBLAS spawns its own thread pool PER worker — the
# local[2] leg then silently uses many cores and the lo/hi scaling
# efficiency reads low for the wrong reason.  Workers inherit this env
# through the JVM in local mode.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

#: the lo parallelism of every lo/hi leg; hi is --cores
LO_CORES = 2


# ----------------------------------------------------------------- harness
@dataclass(frozen=True)
class Leg:
    """One soak leg: ``fn(args)`` runs it and prints its JSON line."""

    selector: str | None  # the flag that picks it; None = the default leg
    help: str | None
    fn: Callable
    flags: tuple = ()  # its own (names, argparse kwargs) pairs
    lohi: bool = False  # times itself at LO_CORES and --cores

    @property
    def dest(self) -> str | None:
        return self.selector and self.selector.lstrip("-").replace("-", "_")


LEGS: list[Leg] = []


def leg(selector: str | None, help: str | None, *flags, lohi: bool = False):
    """Register the decorated function as the leg ``selector`` picks."""
    def register(fn):
        LEGS.append(Leg(selector, help, fn, flags, lohi))
        return fn
    return register


def flag(*names, **kwargs) -> tuple:
    """A leg's own argparse option, declared with the leg."""
    return names, kwargs


def session(app: str, cores: int, min_partitions: int = 32,
            quiet: bool = False, conf: dict | None = None):
    """A leg's session at ``cores``: max(cores*4, min_partitions) shuffle
    partitions; ``quiet`` hides the console progress bar."""
    from grass_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"} if quiet else {}
    return get_spark(
        app, cores=cores, shuffle_partitions=max(cores * 4, min_partitions),
        extra_conf={**extra, **(conf or {})},
    )


def cached(path: str, app: str, build: Callable, partitions: int = 64) -> float:
    """Generate-once input: unless ``path`` has its ``_done`` marker,
    write ``build(spark)`` there from an all-cores session named ``app``.
    Returns the generation wall (0.0 when the cache is reused)."""
    from grass_spark.session import get_spark

    marker = path + "_done"
    if os.path.exists(marker):
        return 0.0
    spark = get_spark(app, cores=None, shuffle_partitions=partitions)
    t0 = time.perf_counter()
    build(spark).write.mode("overwrite").parquet(path)
    gen_sec = round(time.perf_counter() - t0, 1)
    spark.stop()
    open(marker, "w").write("ok")
    return gen_sec


def cached_docs(args, n: int, app: str = "soak_doc_gen") -> tuple[str, float]:
    """``synth_documents(n)`` cached as ``docs_<n>`` (shared by the doc legs)."""
    from grass_spark.datagen import synth_documents

    path = os.path.join(args.data, f"docs_{n}")
    return path, cached(path, app, lambda spark: synth_documents(spark, n_docs=n))


def cached_embeddings(args, n: int) -> tuple[str, float]:
    """``synth_embeddings(n)`` cached as ``embs_<n>``."""
    from grass_spark.datagen import synth_embeddings

    path = os.path.join(args.data, f"embs_{n}")
    return path, cached(
        path, "soak_emb_gen", lambda spark: synth_embeddings(spark, n_vecs=n)
    )


def lohi(args, *runs: Callable, rounds: int = 2,
         per_sec: dict[str, float] | None = None) -> tuple[dict, object]:
    """The lo/hi scaling protocol: ``rounds`` interleaved rounds, min-of-N
    (host noise is one-sided).  Each round calls every ``run(cores,
    clock)`` at LO_CORES, then at --cores; a run times its measured
    region with ``with clock(name):`` (default name "") and returns its
    result.  Returns the fields — cores_lo/cores_hi and, per clock name,
    sec_lo/sec_hi/times_lo/times_hi, one ``round(work / sec_hi)`` rate
    per ``per_sec`` item, speedup and efficiency; the "" clock's fields
    sit at the top level, a named clock's under its name — and the last
    run's result."""
    lo, hi = LO_CORES, args.cores
    times: dict[str, tuple[list, list]] = {}
    result = None
    for _ in range(rounds):
        for run in runs:
            for level, cores in enumerate((lo, hi)):
                @contextlib.contextmanager
                def clock(name: str = "", level: int = level):
                    t0 = time.perf_counter()
                    yield
                    times.setdefault(name, ([], []))[level].append(
                        round(time.perf_counter() - t0, 1))

                result = run(cores, clock)
    out: dict = {"cores_lo": lo, "cores_hi": hi}
    for name, (t_lo, t_hi) in times.items():
        sec_lo, sec_hi = min(t_lo), min(t_hi)
        speedup = round(sec_lo / sec_hi, 3)
        fields = {
            "sec_lo": sec_lo, "sec_hi": sec_hi,
            "times_lo": t_lo, "times_hi": t_hi,
            **{k: round(work / sec_hi) for k, work in (per_sec or {}).items()},
            "speedup": speedup,
            "efficiency": round(speedup / (hi / lo), 3),
        }
        if name:
            out[name] = fields
        else:
            out.update(fields)
    return out, result


def hot_bot_events(spark, n: int, cores: int):
    """N synthetic events (view/click/signup/purchase/error) over 90 days
    from 2024-01-01, checkpointed.  Returns (events, n_users)."""
    from pyspark.sql import functions as F

    n_users = max(n // 2000, 10)
    h = F.abs(F.xxhash64(F.lit(11), "event_id"))
    types = F.array(
        F.lit("view"), F.lit("view"), F.lit("view"), F.lit("view"),
        F.lit("click"), F.lit("click"), F.lit("signup"),
        F.lit("purchase"), F.lit("error"), F.lit("error"),
    )
    ev = (
        spark.range(n).withColumnRenamed("id", "event_id")
        .repartition(cores * 4)
        .select(
            "event_id",
            # bot user 0 holds ~10% of events; the rest spread evenly
            F.when(F.col("event_id") % 10 == 0, F.lit(0).cast("bigint"))
            .otherwise(1 + F.abs(F.xxhash64(F.lit(3), "event_id"))
                       % F.lit(n_users)).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (h % F.lit(90 * 86400))
            ).alias("ts"),
            F.element_at(types, (h % 10 + 1).cast("int"))
            .alias("event_type"),
            ((h % 10000) / F.lit(100.0)).alias("value"),
        )
        .localCheckpoint()
    )
    return ev, n_users


def boiler_docs(spark, n: int, cores: int, boiler: str, words: int):
    """N docs of ``words`` unique words each; every 3rd doc starts with
    the SAME ``boiler`` text.  Checkpointed.  Returns (docs, n_boiler)."""
    from pyspark.sql import functions as F

    body = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"w{j}u"), (F.xxhash64(F.col("doc_id"), F.lit(j)) % 99999).cast("string"))
          for j in range(words)],
    )
    docs = (
        spark.range(n).withColumnRenamed("id", "doc_id")
        .repartition(cores * 4)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(boiler + " "), body))
            .otherwise(body),
        )
        .localCheckpoint()
    )
    return docs, n // 3 + (1 if n % 3 else 0)


# -------------------------------------------------------------------- legs
def _parse_buckets(s: str):
    if "=" in s:
        return {k: int(v) for k, v in (p.split("=") for p in s.split(","))}
    return int(s)


@leg(
    None, None,
    flag("--turns", type=int, default=100_000_000),
    flag("--layout", choices=("plain", "bucketed"), default="bucketed"),
    flag("--buckets", type=_parse_buckets, default=256,
         help="int or per-tier spec 't1m=256,t1h=64,t1d=16'"),
    flag("--compress", action="store_true"),
    flag("--sketches", action="store_true",
         help="carry KLL/HLL sketches through the tiers and "
              "measure the approx-holistic read path (day "
              "quantiles from stored sketches) against the "
              "exact raw re-scan it replaces"),
)
def _rollup_soak(args) -> None:
    """The persisted 3-tier rollup (the module docstring's leg)."""
    from grass_spark.datagen import synth_transcripts
    from grass_spark.operators.rollup import RollupPipeline

    n_convs = args.turns // args.avg_turns
    raw_path = os.path.join(args.data, f"raw_{n_convs}_{args.avg_turns}")
    gen_sec = cached(raw_path, "soak_gen", lambda spark: synth_transcripts(
        spark, n_convs=n_convs, avg_turns=args.avg_turns, seed=42,
        partitions=256,
    ), partitions=256)

    tiers_dir = os.path.join(
        args.data,
        f"tiers_{args.layout}{'_c' if args.compress else ''}"
        f"{'_sk' if args.sketches else ''}",
    )
    shutil.rmtree(tiers_dir, ignore_errors=True)

    spark = session("soak_pipeline", args.cores, conf={
        "spark.sql.warehouse.dir": os.path.join(args.data, "wh")})
    raw = spark.read.parquet(raw_path)
    turns = raw.count()
    pipe = RollupPipeline(
        tiers_dir, layout=args.layout, buckets=args.buckets,
        compress=args.compress, sketches=args.sketches,
    )
    t0 = time.perf_counter()
    results = pipe.run(raw, input_fingerprint="soak")
    pipeline_sec = round(time.perf_counter() - t0, 1)

    sketch_read = None
    if args.sketches:
        from pyspark.sql import functions as F

        def _noop(df):
            df.write.format("noop").mode("overwrite").save()

        # the read the sketch path buys: day-level holistic stats from
        # the STORED day-tier sketches (no raw scan) ...
        t0 = time.perf_counter()
        _noop(pipe.read_tier_approx(spark, "t1d", {"median": 0.5, "perc90": 0.9}))
        approx_sec = round(time.perf_counter() - t0, 2)
        # ... vs the exact raw re-scan it replaces
        t0 = time.perf_counter()
        _noop(
            raw.withColumn("value", F.length("text").cast("double"))
            .groupBy("conv_id", F.date_trunc("day", "ts").alias("d"))
            .agg(
                F.expr("percentile(value, array(0.5D, 0.9D))").alias("q"),
                F.count_distinct("text").alias("nd"),
            )
        )
        exact_sec = round(time.perf_counter() - t0, 2)
        sketch_read = {
            "approx_day_stats_sec": approx_sec,
            "exact_raw_rescan_sec": exact_sec,
            "read_speedup": round(exact_sec / max(approx_sec, 1e-9), 2),
        }

    out = {
        "turns": int(turns),
        "n_convs": n_convs,
        "cores": args.cores,
        "layout": args.layout,
        "buckets": args.buckets,
        "compress": bool(args.compress),
        "gen_sec": gen_sec,
        "pipeline_sec": pipeline_sec,
        "turns_per_sec": round(turns / pipeline_sec),
        "tiers": [
            {"tier": r.name, "rows": r.rows_out, "days": len(r.days_written)}
            for r in results
        ],
    }
    if sketch_read:
        out["sketches"] = True
        out["sketch_read"] = sketch_read
    spark.stop()
    print(json.dumps(out))


@leg("--dedup-docs",
     "instead of the rollup soak, run the dedup "
     "stack (LSH caps + CC rounds) over N synthetic "
     "documents with known duplicate structure")
def _dedup_soak(args) -> None:
    """near_dedup end-to-end over a duplicate-rich corpus: exercises the
    LSH bucket caps (a deliberate boilerplate hot bucket) and the
    pointer-doubling CC rounds at a scale the unit tests never reach."""
    from pyspark.sql import functions as F

    from grass_spark.operators.dedup import near_dedup

    n = args.dedup_docs
    docs_path, gen_sec = cached_docs(args, n, "soak_docs_gen")

    spark = session("soak_dedup", args.cores)
    docs = spark.read.parquet(docs_path)
    t0 = time.perf_counter()
    out = near_dedup(docs.select("doc_id", "text"), jaccard_threshold=0.8)
    dropped = out.filter(~F.col("keep")).count()
    dedup_sec = round(time.perf_counter() - t0, 1)

    # ground-truth recall on the near-dup copies (exact boilerplate
    # clusters above the LSH cap are EXPECTED to be dropped from
    # pairing — they belong to exact_dedup)
    truth = docs.filter(
        (F.col("true_cluster") >= 0) & (F.col("doc_id") != F.col("true_cluster"))
    ).select("doc_id")
    n_copies = truth.count()
    caught = truth.join(out.filter(~F.col("keep")), "doc_id").count()

    print(json.dumps({
        "docs": n,
        "cores": args.cores,
        "gen_sec": gen_sec,
        "dedup_sec": dedup_sec,
        "docs_per_sec": round(n / dedup_sec),
        "dropped": int(dropped),
        "near_dup_copies": int(n_copies),
        "copies_caught": int(caught),
        "recall": round(caught / max(n_copies, 1), 4),
    }))
    spark.stop()


@leg("--semdedup-vecs",
     "instead of the rollup soak, run semantic "
     "dedup over N planted-duplicate embeddings "
     "with lo/hi-core scaling evidence", lohi=True)
def _semdedup_soak(args) -> None:
    """SemDeDup end-to-end over a planted-duplicate embedding corpus:
    exercises the literal-centroid assignment, the within-cluster pair
    join, and the pointer-doubling components at 50-200x unit-test
    scale, with the same-input two-parallelism evidence the north rule
    asks for (interleaved lo/hi rounds, min-of-N)."""
    from pyspark.sql import functions as F

    from grass_spark.operators.semdedup import semantic_dedup

    n = args.semdedup_vecs
    k = max(16, n // 256)  # SemDeDup contract: k grows with N so
    # cluster population stays ~256 and the pair join stays bounded
    vec_path, gen_sec = cached_embeddings(args, n)

    def one_run(cores: int, clock) -> tuple[int, int, int]:
        spark = session("soak_semdedup", cores)
        # the 200k-vec parquet is ~50 MB = 1-2 scan splits; repartition
        # so the map-side phases actually use the cores (at real scale
        # input splits provide this for free)
        emb = spark.read.parquet(vec_path).repartition(cores * 4)
        with clock():
            out = semantic_dedup(
                emb.select("vec_id", "embedding"), k=k, threshold=0.9,
                probes=2,  # soft assignment recovers boundary-split dups
            )
            flagged = out.filter(~F.col("keep")).select("vec_id")
            truth = emb.filter(F.col("true_head") >= 0).select("vec_id")
            n_planted = truth.count()
            caught = truth.join(flagged, "vec_id").count()
            n_flagged = flagged.count()
        spark.stop()
        return n_planted, caught, n_flagged

    # interleaved rounds, min-of-3 (one-sided noise)
    scaling, (n_planted, caught, n_flagged) = lohi(
        args, one_run, rounds=3, per_sec={"vecs_per_sec_hi": n})
    print(json.dumps({
        "vecs": n, "k": k, "gen_sec": gen_sec, **scaling,
        "planted": int(n_planted), "caught": int(caught),
        "recall": round(caught / max(n_planted, 1), 4),
        "false_positives": int(n_flagged - caught),
    }))


@leg("--semdecon-vecs",
     "run the semantic-decontamination soak at N "
     "corpus vectors instead of the rollup soak",
     flag("--bench-vecs", type=int, default=200,
          help="broadcast benchmark size for --semdecon-vecs"),
     lohi=True)
def _semdecon_soak(args) -> None:
    """Semantic decontamination at 10^6 corpus vectors: the broadcast
    bench scoring pass (rows x |bench| fused HOF dot products, zero
    Python) + the one map-side-combinable groupBy(id) max.  Interleaved
    lo/hi rounds, min-of-N — the north rule's two-parallelism protocol."""
    from pyspark.sql import functions as F

    from grass_spark.operators.semdecon import semantic_contamination

    n = args.semdecon_vecs
    nb = args.bench_vecs
    vec_path, gen_sec = cached_embeddings(args, n)

    def one_run(cores: int, clock) -> int:
        spark = session("soak_semdecon", cores, quiet=True)
        e = spark.read.parquet(vec_path).select("vec_id", "embedding")
        # ~50 MB parquet = 1-2 scan splits; spread the scoring pass
        corpus = e.filter(F.col("vec_id") >= nb).repartition(cores * 4)
        bench = e.filter(F.col("vec_id") < nb)
        corpus = corpus.localCheckpoint()  # input prep outside the clock
        bench = bench.localCheckpoint()
        with clock():
            out = semantic_contamination(corpus, bench)
            n_flagged = out.filter(F.col("max_bench_cos") >= 0.9).count()
        spark.stop()
        return n_flagged

    scaling, n_flagged = lohi(args, one_run, per_sec={
        "vecs_per_sec_hi": n - nb, "cos_per_sec_hi": (n - nb) * nb})
    print(json.dumps({
        "vecs": n - nb, "bench": nb, "gen_sec": gen_sec, **scaling,
        "flagged_at_0.9": int(n_flagged),
    }))


@leg("--drift-docs",
     "run the corpus-drift (KL/JS) soak at N docs "
     "instead of the rollup soak", lohi=True)
def _drift_soak(args) -> None:
    """Corpus drift diagnostics (divergence.py) between two synthetic
    snapshot halves at 10^6 docs: two corpus token scans + a
    vocabulary-sized join/agg.  Interleaved lo/hi, min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.operators.divergence import corpus_divergence

    n = args.drift_docs
    doc_path, gen_sec = cached_docs(args, n)

    def one_run(cores: int, clock) -> float:
        spark = session("soak_drift", cores, quiet=True)
        d = spark.read.parquet(doc_path).select("doc_id", "text")
        d = d.repartition(cores * 4).localCheckpoint()
        a = d.filter(F.col("doc_id") % 2 == 0)
        b = d.filter(F.col("doc_id") % 2 == 1)
        with clock():
            row = corpus_divergence(a, b).first()
        spark.stop()
        return float(row["js"])

    scaling, js = lohi(args, one_run, per_sec={"docs_per_sec_hi": n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, **scaling, "js": round(js, 6),
    }))


@leg("--bm25-docs",
     "BM25 retrieval soak: score 8 probe queries "
     "over N synthetic docs (one tokenize scan, "
     "two censuses, sharded top-k), lo/hi", lohi=True)
def _bm25_soak(args) -> None:
    """BM25 retrieval at 10^6-doc scale: one tokenize scan feeds the
    checkpointed tf census; dl/df censuses + candidate join + sharded
    top-k run downstream.  8 probe queries of 3 vocab words each (~
    n*40/5000 matches per word — the candidate frame is corpus-
    fraction-sized, the realistic shape).  Interleaved lo/hi, min-of-2."""
    from grass_spark.operators.search import bm25_search

    n = args.bm25_docs
    doc_path, gen_sec = cached_docs(args, n)
    probe = [
        (i, f"w{(11 * i) % 5000} w{(37 * i + 3) % 5000} w{(101 * i + 7) % 5000}")
        for i in range(1, 9)
    ]

    def one_run(cores: int, clock) -> int:
        spark = session("soak_bm25", cores, quiet=True)
        d = spark.read.parquet(doc_path).select("doc_id", "text")
        d = d.repartition(cores * 4).localCheckpoint()
        q = spark.createDataFrame(probe, "query_id int, q_text string")
        with clock():
            hits = bm25_search(d, q, top_k=10).count()
        spark.stop()
        return hits

    scaling, hits = lohi(args, one_run, per_sec={"docs_per_sec_hi": n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, "queries": len(probe), **scaling,
        "hits": hits,
    }))


@leg("--dsir-docs", "run the DSIR selection soak at N raw docs", lohi=True)
def _dsir_soak(args) -> None:
    """DSIR selection at 10^6 raw docs: two distribution fits (one
    combinable groupBy(bucket) each over the gram Generates), the
    broadcast log-ratio scoring join + groupBy(doc), and the
    TakeOrdered top-k.  Interleaved lo/hi, min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.operators.dsir import dsir_sample

    n = args.dsir_docs
    doc_path, gen_sec = cached_docs(args, n)

    def one_run(cores: int, clock) -> int:
        spark = session("soak_dsir", cores, quiet=True)
        d = spark.read.parquet(doc_path).select("doc_id", "text")
        d = d.repartition(cores * 4).localCheckpoint()
        target = d.filter(F.col("doc_id") % 100 == 0)  # 1% "trusted"
        with clock():
            picked = dsir_sample(d, target, 10_000).count()
        spark.stop()
        return picked

    scaling, picked = lohi(args, one_run, per_sec={"docs_per_sec_hi": n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, **scaling, "picked": int(picked),
    }))


@leg("--ppl-docs", "run the CCNet perplexity-bucket soak at N docs", lohi=True)
def _ppl_soak(args) -> None:
    """CCNet perplexity buckets at 10^6 docs: self-trained bigram LM
    (two combinable count groupBys), two bounded scoring joins +
    groupBy(doc), the |langs|-row exact-quantile agg, broadcast-join
    back.  Interleaved lo/hi, min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.operators.lm import perplexity_buckets

    n = args.ppl_docs
    doc_path, gen_sec = cached_docs(args, n)

    def one_run(cores: int, clock) -> dict:
        spark = session("soak_ppl", cores, quiet=True)
        d = spark.read.parquet(doc_path).select(
            "doc_id", "text", (F.col("doc_id") % 4).alias("lang")
        )
        d = d.repartition(cores * 4).localCheckpoint()
        with clock():
            counts = {
                r["bucket"]: r["n"]
                for r in perplexity_buckets(d, lang_col="lang")
                .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        spark.stop()
        return counts

    scaling, counts = lohi(args, one_run, per_sec={"docs_per_sec_hi": n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, **scaling, "buckets": counts,
    }))


@leg("--corpus-docs",
     "instead of the rollup soak, run the corpus-"
     "hygiene stack (decontaminate, segment dedup, "
     "packing, mixture sampling) over N docs")
def _corpus_soak(args) -> None:
    """Corpus-hygiene stack (round-4 operators) at 10^6 docs: benchmark
    decontamination, segment dedup, sequence packing, mixture sampling.
    Exercises the broadcast-probe and window shapes at a scale where a
    stray corpus-side shuffle or per-element re-eval would dominate."""
    from pyspark.sql import functions as F

    from grass_spark.operators.decontaminate import decontaminate
    from grass_spark.operators.pack import pack_sequences
    from grass_spark.operators.sampling import hash_sample, mixture_rates
    from grass_spark.operators.segdedup import dedup_segments, segments_by_words

    n = args.corpus_docs
    docs_path, gen_sec = cached_docs(args, n, "soak_docs_gen")

    spark = session("soak_corpus", args.cores)
    docs = (
        spark.read.parquet(docs_path)
        .select(
            "doc_id", "text",
            (F.abs(F.xxhash64(F.lit(9), "doc_id")) % 5).cast("string").alias("lang"),
        )
    )
    out: dict = {"docs": n, "cores": args.cores, "gen_sec": gen_sec}

    # 1. benchmark decontamination: eval suite = every 997th doc
    bench = docs.filter(F.col("doc_id") % 997 == 0)
    corpus = docs.filter(F.col("doc_id") % 997 != 0)
    t0 = time.perf_counter()
    kept = decontaminate(corpus, bench, n=13).count()
    s = time.perf_counter() - t0
    out["decontaminate_sec"] = round(s, 1)
    out["decontaminate_docs_per_sec"] = round(n / s)
    out["decontaminate_kept"] = int(kept)

    # 2. segment dedup (10-word chunks, corpus-wide first occurrence)
    t0 = time.perf_counter()
    rep = dedup_segments(segments_by_words(docs, "text", 10))
    agg = rep.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_segments").alias("segs"),
        F.sum("n_kept").alias("kept"),
    ).collect()[0]
    s = time.perf_counter() - t0
    out["segdedup_sec"] = round(s, 1)
    out["segdedup_docs_per_sec"] = round(n / s)
    out["segdedup_segments"] = int(agg["segs"])
    out["segdedup_kept"] = int(agg["kept"])

    # 3. sequence packing: 2048-token sequences, language shards
    toks = docs.select(
        "lang", "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    t0 = time.perf_counter()
    n_slots = pack_sequences(toks, 2048, group_col="lang").count()
    s = time.perf_counter() - t0
    out["pack_sec"] = round(s, 1)
    out["pack_docs_per_sec"] = round(n / s)
    out["pack_slots"] = int(n_slots)

    # 3b. PII redaction (pure projection — measures regex throughput)
    from grass_spark.operators.redact import redact

    t0 = time.perf_counter()
    n_red = redact(docs).agg(
        F.sum(F.col("n_email") + F.col("n_ipv4") + F.col("n_ssn")
              + F.col("n_digits"))
    ).collect()[0][0]
    s = time.perf_counter() - t0
    out["redact_sec"] = round(s, 1)
    out["redact_docs_per_sec"] = round(n / s)
    out["redact_hits"] = int(n_red or 0)

    # 3c. repetition quality signals ((doc, gram) groupBy shapes)
    from grass_spark.operators.repetition import repetition_stats

    t0 = time.perf_counter()
    n_repet = repetition_stats(docs).filter(
        (F.col("word_rep_frac") > 0.6) | (F.col("dup5_frac") > 0.6)
    ).count()
    s = time.perf_counter() - t0
    out["repetition_sec"] = round(s, 1)
    out["repetition_docs_per_sec"] = round(n / s)
    out["repetition_flagged"] = int(n_repet)

    # 4. mixture sampling to equal language shares at 20% token budget
    total = toks.agg(F.sum("n_tokens")).collect()[0][0]
    rates = mixture_rates(
        toks, {str(g): 0.2 for g in range(5)}, int(total * 0.2)
    )
    t0 = time.perf_counter()
    n_sampled = hash_sample(docs, rates, salt="soak").count()
    s = time.perf_counter() - t0
    out["sample_sec"] = round(s, 1)
    out["sample_docs_per_sec"] = round(n / s)
    out["sample_kept"] = int(n_sampled)

    print(json.dumps(out))
    spark.stop()


@leg("--corpus-full",
     "instead of the rollup soak, run the FULL "
     "prepare_corpus pipeline (all stages incl. "
     "SemDeDup semantic dedup) over N docs")
def _corpus_full_soak(args) -> None:
    """End-to-end prepare_corpus with EVERY stage enabled — redact ->
    quality/repetition -> exact -> MinHash near -> SemDeDup semantic
    (doc-keyed planted-duplicate embeddings) -> segment -> benchmark
    decontaminate -> mixture — one composed pipeline, one wall-clock
    number, per-stage survivor counts from the pipeline's own stats."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_embeddings
    from grass_spark.operators.corpus import prepare_corpus

    n = args.corpus_full
    docs_path, gen_sec = cached_docs(args, n, "soak_docs_gen")
    emb_path = os.path.join(args.data, f"docembs_{n}")
    gen_sec += cached(emb_path, "soak_emb_gen", lambda spark: (
        synth_embeddings(spark, n_vecs=n)
        .select(F.col("vec_id").alias("doc_id"), "embedding")
    ))

    spark = session("soak_corpus_full", args.cores)
    docs = (
        spark.read.parquet(docs_path)
        .repartition(args.cores * 4)
        .select(
            "doc_id", "text",
            (F.abs(F.xxhash64(F.lit(9), "doc_id")) % 5).cast("string").alias("lang"),
        )
    )
    emb = spark.read.parquet(emb_path).repartition(args.cores * 4)
    bench = docs.filter(F.col("doc_id") % 997 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 997 != 0)
    t0 = time.perf_counter()
    out_df, stats = prepare_corpus(
        corpus, bench,
        embeddings=emb,
        segment_words=10,
        span_n=8,
        mixture_targets={str(g): 0.2 for g in range(5)},
    )
    n_out = out_df.count()
    dt = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "docs": n, "cores": args.cores, "gen_sec": gen_sec,
        "pipeline_sec": dt, "docs_per_sec": round(n / dt),
        "survivors": int(n_out), "stage_counts": stats,
    }))
    spark.stop()


@leg("--segdedup-hot",
     "adversarial segment-dedup skew soak: ONE "
     "boilerplate segment in ~30%% of N docs")
def _segdedup_hot_soak(args) -> None:
    """Adversarial segment-dedup skew soak (round-4 verdict #1): ONE
    boilerplate segment planted in ~30% of N docs.  The min-struct
    election must absorb the hot key map-side — under the old
    row_number-window plan every hot occurrence funneled into one task.
    Records the wall + docs/s bound BASELINE.md pins."""
    from pyspark.sql import functions as F

    from grass_spark.operators.segdedup import dedup_segments, segments_by_words

    n = args.segdedup_hot
    spark = session("soak_segdedup", args.cores)
    # 10-word unique body + the SAME 10-word boilerplate chunk on every
    # 3rd doc => exactly one k=10 segment shared corpus-wide
    docs, hot = boiler_docs(
        spark, n, args.cores,
        "shared boilerplate sentence repeated across the corpus again and again",
        words=10,
    )
    t0 = time.perf_counter()
    out = dedup_segments(segments_by_words(docs, "text", 10))
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_kept").alias("kept"),
        F.sum("n_segments").alias("segs"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "docs": n, "cores": args.cores, "hot_occurrences": hot,
        "segments": int(agg["segs"]), "kept": int(agg["kept"]),
        "dropped": int(agg["segs"] - agg["kept"]),
        "sec": wall, "docs_per_sec": round(n / wall),
    }))
    spark.stop()


@leg("--pref-hot",
     "adversarial preference-pair soak: N scored "
     "completions, one prompt holds 30%% of them")
def _pref_hot_soak(args) -> None:
    """Adversarial preference-election skew soak: ONE prompt holds 30%
    of N scored completions (a degenerate best-of-N sweep).  The
    min/max(struct) election must absorb the hot prompt map-side —
    a row_number-window plan would single-task 0.3N rows.  Wall +
    completions/s recorded for BASELINE.md."""
    from pyspark.sql import functions as F

    from grass_spark.operators.preference import preference_pairs

    n = args.pref_hot
    spark = session("soak_prefhot", args.cores)
    # ~30% of completions land on prompt 0; the rest spread over n/10
    cold = 1 + F.abs(F.xxhash64(F.lit(3), "doc_id")) % F.lit(max(n // 10, 1))
    comp = (
        spark.range(n).withColumnRenamed("id", "doc_id")
        .repartition(args.cores * 4)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 3, F.lit(0).cast("bigint"))
            .otherwise(cold).alias("prompt_id"),
            F.concat(F.lit("completion text body "),
                     F.col("doc_id").cast("string")).alias("text"),
            ((F.xxhash64(F.lit(7), "doc_id") % 1000000) / 1000000.0)
            .alias("score"),
        )
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    pairs = preference_pairs(comp, min_margin=0.0)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("pairs"),
        F.max("n_completions").alias("hottest"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "completions": n, "cores": args.cores,
        "pairs": int(agg["pairs"]), "hottest_prompt": int(agg["hottest"]),
        "sec": wall, "completions_per_sec": round(n / wall),
    }))
    spark.stop()


@leg("--knn-vecs",
     "brute-knn plan-shape soak: N corpus vectors "
     "x 2 queries, sharded vs bare-window top-k",
     flag("--knn-dims", type=int, default=32,
          help="vector dims for --knn-vecs (small dims "
               "isolate the selection stage from scoring)"))
def _knn_shape_soak(args) -> None:
    """Brute-force knn top-k plan-shape comparison: N corpus vectors x
    2 query vectors.  The pre-round-5 shape (bare partitionBy(q_id)
    window) puts ALL N scored rows for one query in ONE task — at 2
    queries only 2 cores ever work.  The sharded two-stage top-k
    (_topk_per_query) spreads each query over 16 shards.  Same exact
    result; walls for both shapes printed."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from grass_spark.operators.similarity import cosine_topk, dot, l2norm

    n, dims = args.knn_vecs, args.knn_dims
    spark = session("soak_knnshape", args.cores)
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dims)),
        lambda j: F.sin(F.col("vec_id").cast("double") * 0.7 + j * 1.3),
    )
    emb = (
        spark.range(n).withColumnRenamed("id", "vec_id")
        .repartition(args.cores * 4)
        .select("vec_id", vec.alias("embedding"))
        .localCheckpoint()
    )
    q = emb.filter(F.col("vec_id") < 2)

    # the old shape, inlined for comparison
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("_e"))
    qq = q.select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("_qe"))
    pairs = F.broadcast(qq).crossJoin(c).filter("neighbor_id <> q_id")
    sim = dot("_qe", "_e") / (l2norm("_qe") * l2norm("_e"))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    bare_df = (
        pairs.select("q_id", "neighbor_id", sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    sharded_df = cosine_topk(emb, q, k=10)

    def _run(df):
        t0 = time.perf_counter()
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.min("cosine").alias("mn")).first()
        return round(time.perf_counter() - t0, 1), r

    # interleaved min-of-2 (one-sided host noise; JIT warms on round 1)
    walls = {"sharded": [], "bare": []}
    res = {}
    for _ in range(2):
        t, res["sharded"] = _run(sharded_df)
        walls["sharded"].append(t)
        t, res["bare"] = _run(bare_df)
        walls["bare"].append(t)
    sharded, bare = min(walls["sharded"]), min(walls["bare"])
    got, old = res["sharded"], res["bare"]
    assert got["n"] == old["n"] and math.isclose(got["mn"], old["mn"])
    print(json.dumps({
        "vecs": n, "cores": args.cores, "rows": int(got["n"]),
        "sharded_sec": sharded, "bare_window_sec": bare,
        "speedup": round(bare / sharded, 2),
    }))
    spark.stop()


@leg("--span-hot",
     "adversarial duplicate-span skew soak: ONE "
     "boilerplate run in ~30%% of N docs")
def _span_hot_soak(args) -> None:
    """Adversarial duplicate-span skew soak: ONE 12-word boilerplate
    run planted in ~30% of N docs (plus a per-doc unique 20-word body).
    Every boilerplate window is a single hot gram; the combinable
    census must absorb it map-side and the interval merge stays
    doc-local.  Wall + docs/s recorded for BASELINE.md."""
    from pyspark.sql import functions as F

    from grass_spark.operators.spans import duplicate_spans

    n = args.span_hot
    spark = session("soak_spanhot", args.cores)
    docs, hot = boiler_docs(
        spark, n, args.cores,
        "please subscribe to our weekly newsletter for updates "
        "terms and conditions apply",
        words=20,
    )
    t0 = time.perf_counter()
    out = duplicate_spans(docs, n=8)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_windows").alias("windows"),
        F.sum("n_dup_windows").alias("dup_windows"),
        F.sum("dup_words").alias("removed_words"),
        F.sum(F.col("n_spans")).alias("spans"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "docs": n, "cores": args.cores,
        "hot_docs": hot,
        "windows": int(agg["windows"]),
        "dup_windows": int(agg["dup_windows"]),
        "spans": int(agg["spans"]),
        "removed_words": int(agg["removed_words"]),
        "sec": wall, "docs_per_sec": round(n / wall),
    }))
    spark.stop()


@leg("--cap-hot",
     "adversarial per-source-cap skew soak: ONE "
     "source holds ~30%% of N docs",
     flag("--cap-naive", action="store_true",
          help="cap-hot soak: time the naive single-window "
               "plan instead (hot-source single-task "
               "comparison leg)"),
     flag("--cap-sources", type=int, default=5000,
          help="cap-hot soak: tail-source cardinality. 5000 "
               "makes EVERY source over-cap (worst case: all "
               "rows take the salted windows); a large value "
               "(e.g. N/50) keeps the tail under-cap so ~70%% "
               "of rows take the zero-shuffle cold path "
               "(realistic shape)"))
def _cap_hot_soak(args) -> None:
    """Adversarial per-source-cap skew soak: ONE source holds ~30% of
    N docs (the hot-domain shape cap_per_group exists for).  The salted
    two-stage election must bound every window partition to
    ~hot/salts rows; wall + throughput recorded for BASELINE.md."""
    from pyspark.sql import functions as F

    from grass_spark.operators.caps import cap_per_group

    n = args.cap_hot
    spark = session("soak_caphot", args.cores)
    docs = (
        spark.range(n).withColumnRenamed("id", "doc_id")
        .repartition(args.cores * 4)
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 10 < 3, F.lit("hot.example"))
            .otherwise(F.concat(
                F.lit("s"),
                (F.col("doc_id") % args.cap_sources).cast("string"),
            )),
        )
        .localCheckpoint()
    )
    cap = 1000
    t0 = time.perf_counter()
    if args.cap_naive:
        # the plan cap_per_group exists to avoid: one window over the
        # bare source key — the hot source single-tasks
        from pyspark.sql import Window

        from grass_spark.operators.sampling import uniform_hash

        w = Window.partitionBy("source").orderBy("_u", "doc_id")
        out = (
            docs.withColumn("_u", uniform_hash(F.col("doc_id")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap)
            .drop("_u", "_rn")
        )
    else:
        out = cap_per_group(docs, cap, salts=32)
    kept = out.count()
    wall = round(time.perf_counter() - t0, 1)
    hot_kept = out.filter(F.col("source") == "hot.example").count()
    print(json.dumps({
        "docs": n, "cores": args.cores, "cap": cap,
        "hot_docs": int(n * 3 / 10), "hot_kept": int(hot_kept),
        "kept": int(kept), "sec": wall, "docs_per_sec": round(n / wall),
    }))
    spark.stop()


@leg("--delta-dedup",
     "incremental dedup store soak: build on N, "
     "ingest N/10, compare vs full recompute",
     flag("--delta-frac", type=float, default=0.1,
          help="delta-dedup soak: delta batch size as a "
               "fraction of the base (0.1 mirrors a crawl "
               "increment; >=0.5 for scaling runs where the "
               "ingest wall must be variable-cost dominated)"),
     flag("--skip-recompute", action="store_true",
          help="delta-dedup soak: skip the from-scratch "
               "near_dedup comparison leg (lo-cores scaling "
               "runs only need build+ingest)"))
def _delta_dedup_soak(args) -> None:
    """Incremental-store soak: build on N docs, ingest an N/10 delta,
    and time the delta ingest against the full near_dedup recompute it
    replaces — the number that matters at 100 TB, where per-ingest
    recompute is the scan bottleneck."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_documents
    from grass_spark.operators.dedup import near_dedup
    from grass_spark.operators.dedup_store import DedupStore

    n = args.delta_dedup
    delta_n = int(n * args.delta_frac)
    spark = session("soak_delta_dedup", args.cores)
    all_docs = synth_documents(spark, n_docs=n + delta_n).select(
        "doc_id", "text"
    )
    base = all_docs.filter(F.col("doc_id") < n).localCheckpoint()
    delta = all_docs.filter(F.col("doc_id") >= n).localCheckpoint()

    store_path = os.path.join(args.data, f"dedup_store_{n}")
    shutil.rmtree(store_path, ignore_errors=True)
    store = DedupStore(store_path)
    t0 = time.perf_counter()
    store.build(base).count()
    build_sec = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    out = store.ingest(spark, delta)
    dropped = out.filter(~F.col("keep")).count()
    ingest_sec = round(time.perf_counter() - t0, 1)

    scratch_sec = None
    if not args.skip_recompute:
        t0 = time.perf_counter()
        scratch = near_dedup(all_docs, jaccard_threshold=0.8)
        scratch.filter(~F.col("keep")).count()
        scratch_sec = round(time.perf_counter() - t0, 1)

    print(json.dumps({
        "base_docs": n, "delta_docs": delta_n, "cores": args.cores,
        "build_sec": build_sec, "ingest_sec": ingest_sec,
        "recompute_sec": scratch_sec,
        "ingest_speedup_vs_recompute": (
            round(scratch_sec / ingest_sec, 2) if scratch_sec else None
        ),
        "delta_docs_per_sec": round(delta_n / ingest_sec),
        "delta_dropped": int(dropped),
    }))
    spark.stop()


@leg("--pq-vecs",
     "PQ soak: encode pass lo/hi + one Lloyd "
     "training round over N vectors",
     flag("--pq-methods", default="expr,arrow",
          help="PQ soak: comma list of encode methods to time"),
     lohi=True)
def _pq_soak(args) -> None:
    """PQ at corpus scale: the encode pass (the 100-TB hot path — one
    scan-stage projection with m*k literal distance folds per row) at
    interleaved lo/hi cores, plus one Lloyd training round (the
    posexplode mean-update shuffle) at hi cores."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_embeddings
    from grass_spark.operators.pq import pq_codebook, pq_encode

    n = args.pq_vecs
    path = os.path.join(args.data, f"pqvecs_{n}")
    gen_sec = cached(path, "soak_pq_gen",
                     lambda spark: synth_embeddings(spark, n_vecs=n))
    errs: dict[str, float] = {}

    def one_run(cores: int, clock, method: str) -> None:
        spark = session("soak_pq", cores, quiet=True)
        e = spark.read.parquet(path).select("vec_id", "embedding")
        e = e.repartition(cores * 4).localCheckpoint()
        cb = pq_codebook(e, 8, 16)
        with clock(method):
            row = pq_encode(e, cb, with_err=True, method=method).agg(
                F.count("*"), F.avg("recon_err")
            ).collect()[0]
        assert row[0] == n
        spark.stop()
        errs[method] = round(float(row[1]), 6)

    methods = tuple(args.pq_methods.split(","))
    arrow, _ = lohi(
        args, *[functools.partial(one_run, method=m) for m in methods],
        per_sec={"vecs_per_sec_hi": n},
    )
    for method in methods:
        arrow[method]["mean_recon_err"] = errs[method]
    # one training round at hi cores (encode + mean-update shuffle)
    from grass_spark.operators.kmeans import pq_train

    hi = args.cores
    spark = session("soak_pq_train", hi, quiet=True)
    e = spark.read.parquet(path).select("vec_id", "embedding")
    e = e.repartition(hi * 4).localCheckpoint()
    t0 = time.perf_counter()
    _, hist = pq_train(
        e, 8, 16, rounds=1,
        method="arrow" if "arrow" in methods else "expr",
    )
    train_sec = round(time.perf_counter() - t0, 1)
    spark.stop()
    print(json.dumps({
        "vecs": n, "gen_sec": gen_sec,
        "train_round_sec": train_sec,
        "train_distortion": [round(h, 6) for h in hist],
        **arrow,
    }))


@leg("--textproj-docs",
     "text-projection soak: line_filter + "
     "subword_encode passes over N line-wrapped "
     "docs, lo/hi", lohi=True)
def _textproj_soak(args) -> None:
    """Scan-stage text projections at corpus scale: line_filter (HOF
    line predicates) and subword_encode (vocab-regex extract + id map)
    timed as separate passes, interleaved lo/hi, min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_documents
    from grass_spark.operators.linefilter import LineRules, line_filter
    from grass_spark.operators.textstats import subword_encode

    # word-soup lines carry no terminal punctuation and the synthetic
    # vocab is digit-heavy ('w3183') — disable those two rules so lines
    # actually survive and the clean_text rebuild does real work
    rules = LineRules(min_line_words=4, require_terminal_punct=False,
                      max_digit_frac=1.0, min_kept_lines=3,
                      max_removed_frac=0.5)

    n = args.textproj_docs
    path = os.path.join(args.data, f"linedocs_{n}")

    def build(spark):
        # wrap the word soup into 7-word lines once, at generation time
        wrapped = F.regexp_replace(
            F.col("text"), r"((?:\S+ ){6}\S+) ", "$1\n"
        )
        return synth_documents(spark, n_docs=n).withColumn("text", wrapped)

    gen_sec = cached(path, "soak_lines_gen", build)

    def one_run(cores: int, clock) -> tuple[int, int]:
        spark = session("soak_lines", cores, quiet=True)
        d = spark.read.parquet(path).select("doc_id", "text")
        d = d.repartition(cores * 4).localCheckpoint()
        with clock("linefilter"):
            # aggregate over clean_text too so column pruning cannot skip
            # the rebuild — this IS the op's output at scale
            row = line_filter(d, rules).agg(
                F.sum(F.col("keep").cast("long")),
                F.sum(F.length("clean_text")),
            ).collect()[0]
            kept = int(row[0])
        with clock("subword"):
            toks = subword_encode(d).agg(F.sum("n_tokens")).collect()[0][0]
        spark.stop()
        return kept, int(toks)

    scaling, (kept, toks) = lohi(args, one_run, per_sec={"docs_per_sec_hi": n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, "kept_docs": kept, "sum_tokens": toks,
        **scaling,
    }))


@leg("--sft-turns",
     "SFT soak: sft_examples + transcript_lint + "
     "context_tail over N synthetic turns, lo/hi", lohi=True)
def _sft_soak(args) -> None:
    """SFT assembly at transcript scale: sft_examples (per-conv render
    + loss-mask spans), transcript_lint, and context_tail timed as
    separate passes over the same turns table, interleaved lo/hi,
    min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_transcripts
    from grass_spark.operators.sft import (
        context_tail, sft_examples, transcript_lint,
    )

    n = args.sft_turns
    n_convs = max(n // args.avg_turns, 1)
    path = os.path.join(args.data, f"sft_turns_{n}")
    gen_sec = cached(path, "soak_sft_gen", lambda spark: synth_transcripts(
        spark, n_convs=n_convs, avg_turns=args.avg_turns, seed=7
    ))

    def one_run(cores: int, clock) -> dict[str, int]:
        spark = session("soak_sft", cores, quiet=True)
        t = spark.read.parquet(path).select(
            "conv_id", "turn_idx", "role", "text", "ts"
        )
        t = t.repartition(cores * 4).localCheckpoint()
        stats: dict[str, int] = {}
        with clock("sft"):
            row = sft_examples(t).agg(
                F.sum(F.length("text")), F.sum("n_mask_chars"),
                F.count(F.lit(1)),
            ).collect()[0]
        stats["rendered_chars"] = int(row[0])
        stats["mask_chars"] = int(row[1])
        stats["convs"] = int(row[2])
        with clock("lint"):
            row = transcript_lint(t).agg(
                F.sum(F.col("keep").cast("long")), F.count(F.lit(1)),
            ).collect()[0]
        stats["kept_convs"] = int(row[0])
        with clock("tail"):
            row = context_tail(t, 512).agg(
                F.count(F.lit(1)), F.sum("n_tokens"),
            ).collect()[0]
        stats["tail_rows"] = int(row[0])
        spark.stop()
        return stats

    scaling, stats = lohi(args, one_run, per_sec={"turns_per_sec_hi": n})
    print(json.dumps({
        "turns": n, "convs": n_convs, "gen_sec": gen_sec, **stats, **scaling,
    }))


@leg("--classifier-docs",
     "LR-trainer soak: stage features + 2 training "
     "rounds over N labeled docs, lo/hi", lohi=True)
def _classifier_soak(args) -> None:
    """Distributed LR training at corpus scale: the one-off feature
    staging (explode + groupBy(doc, bucket) + eager checkpoint) and the
    per-round cost (score groupBy(doc) + gradient groupBy(bucket) +
    n_buckets collect), interleaved lo/hi, min-of-2."""
    from pyspark.sql import functions as F

    from grass_spark.operators.classify import train_classifier

    n = args.classifier_docs
    path, gen_sec = cached_docs(args, n, "soak_clf_gen")

    def one_run(cores: int, clock) -> float:
        spark = session("soak_clf", cores, quiet=True)
        d = spark.read.parquet(path).select(
            "doc_id",
            (F.col("doc_id") % 2).cast("int").alias("label"),
            "text",
        )
        d = d.repartition(cores * 4).localCheckpoint()
        with clock():
            _, hist = train_classifier(d, rounds=2, lr=8.0, n_buckets=4096,
                                       hash="fast")
        spark.stop()
        return hist[-1]

    scaling, loss = lohi(args, one_run,
                         per_sec={"docs_per_round_sec_hi": 3 * n})
    print(json.dumps({
        "docs": n, "gen_sec": gen_sec, "rounds": 2, "n_buckets": 4096,
        **scaling, "final_loss": round(loss, 6),
    }))


@leg("--funnel-events",
     "event-analytics soak: windowed funnel + "
     "retention over N events with a 10%%-hot bot "
     "user, lo/hi",
     flag("--funnel-op", choices=("both", "funnel", "retention"),
          default="both",
          help="which event-analytics op the soak times "
               "(funnel is ~5x faster per event than "
               "retention — size N per op for minutes-long "
               "walls)"))
def _funnel_soak(args) -> None:
    """Event-analytics soak: windowed funnel + retention cohorts over N
    synthetic events with an adversarial BOT user holding ~10% of all
    events.  The join-chain funnel must absorb the bot map-side (its
    per-step min combines before the shuffle); a collect_list-per-user
    plan would materialize 0.1N rows in one task.  Wall + events/s
    recorded for BASELINE.md; run at lo/hi cores for efficiency."""
    from pyspark.sql import functions as F

    from grass_spark.operators.funnel import event_funnel, retention_cohorts

    n = args.funnel_events
    spark = session("soak_funnel", args.cores)
    ev, n_users = hot_bot_events(spark, n, args.cores)
    out: dict = {"events": n, "users": n_users, "cores": args.cores}
    if args.funnel_op in ("both", "funnel"):
        t0 = time.perf_counter()
        fun = event_funnel(ev, ("view", "click", "purchase"), 7 * 86400)
        fa = fun.agg(
            F.count(F.lit(1)).alias("entrants"),
            F.sum("steps_completed").alias("depth_sum"),
        ).first()
        funnel_wall = round(time.perf_counter() - t0, 1)
        out.update(
            entrants=int(fa["entrants"]), depth_sum=int(fa["depth_sum"]),
            funnel_sec=funnel_wall,
            funnel_events_per_sec=round(n / funnel_wall),
        )
    if args.funnel_op in ("both", "retention"):
        t0 = time.perf_counter()
        ra = retention_cohorts(ev).agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum("n_users").alias("user_days"),
        ).first()
        ret_wall = round(time.perf_counter() - t0, 1)
        out.update(
            retention_cells=int(ra["cells"]),
            user_days=int(ra["user_days"]), retention_sec=ret_wall,
            retention_events_per_sec=round(n / ret_wall),
        )
    print(json.dumps(out))
    spark.stop()


@leg("--seq-events",
     "sequence-operator soak: transition matrix / "
     "rate anomalies / as-of attribution over N "
     "events with a 10%%-hot bot user, lo/hi",
     flag("--seq-op",
          choices=("all", "transitions", "anomalies", "asof",
                   "interevent", "resample", "occupancy"),
          default="all",
          help="which sequence op the --seq-events soak times"))
def _seq_soak(args) -> None:
    """Sequence-operator soak: transition matrix / rate anomalies /
    as-of attribution over N synthetic events with the same adversarial
    10%-hot bot user as the funnel soak.  The bucket decomposition must
    bound every sort partition at per-user-per-DAY volume (bot day ~
    N/10/90 rows) — a bare per-user window would single-task 0.1N rows.
    Wall + events/s recorded for BASELINE.md; run at lo/hi cores."""
    from pyspark.sql import functions as F

    from grass_spark.operators.asof import asof_join
    from grass_spark.operators.transitions import (
        event_transitions,
        rate_anomalies,
    )

    n = args.seq_events
    # Window-sort partitions must stay cache-resident: at 32 partitions
    # (750k rows each for 24M events) the 8-core leg measured 51.6 s vs
    # 24.8 s at 128 (190k rows) — concurrent out-of-cache sorts are
    # memory-bandwidth-bound and do not scale with cores.  Production
    # AQE sizes this automatically; the harness sizes by volume.
    spark = session("soak_seq", args.cores, min(1024, n // 200_000))
    ev, n_users = hot_bot_events(spark, n, args.cores)
    out: dict = {"events": n, "users": n_users, "cores": args.cores}
    if args.seq_op in ("all", "transitions"):
        t0 = time.perf_counter()
        tr = event_transitions(ev).agg(
            F.count(F.lit(1)).alias("cells"), F.sum("n").alias("pairs")
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            transition_cells=int(tr["cells"]), pairs=int(tr["pairs"]),
            transitions_sec=wall,
            transitions_events_per_sec=round(n / wall),
        )
    if args.seq_op in ("all", "anomalies"):
        t0 = time.perf_counter()
        ra = rate_anomalies(ev).agg(
            F.count(F.lit(1)).alias("user_days"),
            F.count("z").alias("scored"),
            F.sum(F.when(F.abs("z") > 3, 1).otherwise(0)).alias("alerts"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            user_days=int(ra["user_days"]), scored=int(ra["scored"]),
            alerts=int(ra["alerts"]), anomalies_sec=wall,
            anomalies_events_per_sec=round(n / wall),
        )
    if args.seq_op in ("all", "asof"):
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        views = ev.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"), "user_id", "ts"
        )
        t0 = time.perf_counter()
        aj = asof_join(
            purchases, views, on="user_id",
            tie_col="view_id", tolerance_seconds=3 * 86400,
        ).agg(
            F.count(F.lit(1)).alias("purchases"),
            F.count("view_id_r").alias("attributed"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            purchases=int(aj["purchases"]),
            attributed=int(aj["attributed"]), asof_sec=wall,
            asof_events_per_sec=round(n / wall),
        )
    if args.seq_op in ("all", "interevent"):
        from grass_spark.operators.transitions import interevent_stats

        t0 = time.perf_counter()
        ie = interevent_stats(ev).agg(
            F.count(F.lit(1)).alias("users"),
            F.sum("n_gaps").alias("gaps"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            ie_users=int(ie["users"]), ie_gaps=int(ie["gaps"]),
            interevent_sec=wall,
            interevent_events_per_sec=round(n / wall),
        )
    if args.seq_op in ("all", "occupancy"):
        from grass_spark.operators.occupancy import state_occupancy

        t0 = time.perf_counter()
        oc = state_occupancy(ev).agg(
            F.count(F.lit(1)).alias("states"),
            F.sum("n_intervals").alias("intervals"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            occ_states=int(oc["states"]),
            occ_intervals=int(oc["intervals"]),
            occupancy_sec=wall,
            occupancy_events_per_sec=round(n / wall),
        )
    if args.seq_op in ("all", "resample"):
        from grass_spark.operators.asof import resample_locf

        # hourly grid over the 90-day span: ~2161 points/user, grid
        # volume = users * span/step (output-proportional by design)
        t0 = time.perf_counter()
        rs = resample_locf(
            ev, step_seconds=3600, tie_col="event_id",
            max_staleness_seconds=6 * 3600,
        ).agg(
            F.count(F.lit(1)).alias("grid_rows"),
            F.count("value_r").alias("filled"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            grid_rows=int(rs["grid_rows"]), filled=int(rs["filled"]),
            resample_sec=wall,
            resample_grid_rows_per_sec=round(int(rs["grid_rows"]) / wall),
        )
    print(json.dumps(out))
    spark.stop()


@leg("--engagement-events",
     "run the engagement-analytics soak over N "
     "synthetic events (rolling actives / RFM / "
     "CUSUM / correlations) and exit",
     flag("--engagement-op",
          choices=("all", "actives", "rfm", "cusum", "corr"),
          default="all",
          help="which op the --engagement-events soak times"))
def _engagement_soak(args) -> None:
    """Engagement-analytics soak: rolling actives / RFM / CUSUM /
    type correlations over N synthetic events with the 10%-hot bot
    user.  Every operator reduces volume in ONE map-side-combinable
    groupBy on (user, day) or (day, type) — the bot user spreads over
    ~90 calendar days, so no shuffle key is hotter than N/10/90 and
    the partial aggregation absorbs it.  Downstream frames are
    calendar- or census-bounded.  Like rate_anomalies, the wall is
    scan+partial-agg bandwidth; report throughput at lo/hi cores."""
    from pyspark.sql import functions as F

    from grass_spark.operators.engagement import (
        cusum_alarms,
        rfm_segments,
        rolling_active_users,
        type_correlations,
    )

    n = args.engagement_events
    spark = session("soak_engagement", args.cores, min(1024, n // 200_000))
    ev, n_users = hot_bot_events(spark, n, args.cores)
    out: dict = {"events": n, "users": n_users, "cores": args.cores}
    if args.engagement_op in ("all", "actives"):
        t0 = time.perf_counter()
        r = rolling_active_users(ev, window_days=7).agg(
            F.count(F.lit(1)).alias("days"), F.max("wau").alias("max_wau")
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            actives_days=int(r["days"]), max_wau=int(r["max_wau"]),
            actives_sec=wall, actives_events_per_sec=round(n / wall),
        )
    if args.engagement_op in ("all", "rfm"):
        t0 = time.perf_counter()
        r = rfm_segments(ev).agg(
            F.count(F.lit(1)).alias("users"),
            F.countDistinct("segment").alias("segments"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            rfm_users=int(r["users"]), rfm_segments=int(r["segments"]),
            rfm_sec=wall, rfm_events_per_sec=round(n / wall),
        )
    if args.engagement_op in ("all", "cusum"):
        t0 = time.perf_counter()
        r = cusum_alarms(ev, drift=max(n // n_users // 90, 1) * 2,
                         threshold=max(n // n_users // 90, 1) * 10).agg(
            F.count(F.lit(1)).alias("users"),
            F.count("alarm_day").alias("alarms"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            cusum_users=int(r["users"]), cusum_alarms=int(r["alarms"]),
            cusum_sec=wall, cusum_events_per_sec=round(n / wall),
        )
    if args.engagement_op in ("all", "corr"):
        t0 = time.perf_counter()
        r = type_correlations(ev).agg(
            F.count(F.lit(1)).alias("pairs"),
            F.max(F.abs("corr")).alias("max_abs_corr"),
        ).first()
        wall = round(time.perf_counter() - t0, 1)
        out.update(
            corr_pairs=int(r["pairs"]),
            max_abs_corr=float(r["max_abs_corr"]),
            corr_sec=wall, corr_events_per_sec=round(n / wall),
        )
    print(json.dumps(out))
    spark.stop()


@leg("--graph-members",
     "co-occurrence graph soak: edges + triangle "
     "census over N membership rows with planted "
     "over-cap mega-groups, lo/hi")
def _graph_soak(args) -> None:
    """Co-occurrence graph soak: bipartite membership -> edges ->
    triangle census over N membership rows, with 3 planted mega-groups
    (N/100 members each) that the density cap must DROP — an uncapped
    run would emit C(N/100, 2) pairs from each.  Wall + members/s for
    BASELINE.md; run at lo/hi cores."""
    from pyspark.sql import functions as F

    from grass_spark.operators.graph import cooccurrence_edges, triangle_stats

    n = args.graph_members
    n_groups = max(n // 6, 1)
    n_items = max(n // 30, 10)
    # ANTI-FINDING (measured): resizing shuffle partitions by wedge
    # volume (n//5000 = 800 at 4M members) made the 8-core leg 2.1x
    # SLOWER (366.6 s vs 177.2 s at 32 partitions) — the wedge join's
    # per-task sorts are already spill-managed, and 800 task waves of
    # fixed overhead swamp any cache-residency win.  The census-window
    # partition-sizing fact does NOT transfer to SMJ sorts here; keep
    # the cores*4 default and report throughput (the wedge join is
    # memory-bandwidth-bound on this box — lo/hi reads ~0.6, same
    # class as rate_anomalies' scan walls).
    spark = session("soak_graph", args.cores, min(512, n // 200_000))
    h = F.abs(F.xxhash64(F.lit(17), "id"))
    base = (
        spark.range(n)
        .repartition(args.cores * 4)
        .select(
            (F.col("id") % F.lit(n_groups)).alias("g"),
            (h % F.lit(n_items)).alias("i"),
        )
    )
    hot = (
        spark.range(3 * max(n // 100, 10))
        .select(
            (F.lit(n_groups) + F.col("id") % 3).alias("g"),
            (F.abs(F.xxhash64(F.lit(23), "id")) % F.lit(n_items)).alias("i"),
        )
    )
    mem = base.unionAll(hot).localCheckpoint()
    t0 = time.perf_counter()
    edges = cooccurrence_edges(mem, group_col="g", item_col="i")
    r = triangle_stats(edges).first()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "members": n, "groups": n_groups, "items": n_items,
        "cores": args.cores,
        "n_nodes": int(r["n_nodes"]), "n_edges": int(r["n_edges"]),
        "n_wedges": int(r["n_wedges"]),
        "n_triangles": int(r["n_triangles"]),
        "clustering": r["clustering"], "wall_sec": wall,
        "members_per_sec": round(n / wall),
    }))
    spark.stop()


@leg("--rank-rows",
     "census-rank soak over continuous doubles "
     "(corpus-sized census): spearman / mann-"
     "whitney / ks via the bucketed prefix-sum "
     "path, lo/hi")
def _rank_soak(args) -> None:
    """Census-rank soak over CONTINUOUS doubles — the census is
    corpus-sized (every value distinct), so this exercises the
    bucketed prefix-sum path (operators/prefix.py) that replaced the
    single-task unpartitioned window.  Times spearman / mann-whitney /
    ks over N rows; run at lo/hi cores."""
    from pyspark.sql import functions as F

    from grass_spark.operators.divergence import ks_test
    from grass_spark.operators.stats import mann_whitney, spearman_corr

    n = args.rank_rows
    spark = session("soak_rank", args.cores, min(1024, n // 200_000))
    u = (F.abs(F.xxhash64(F.lit(29), "id")) % F.lit(2**40)).cast(
        "double"
    ) / F.lit(float(2**40))
    base = (
        spark.range(n)
        .repartition(args.cores * 4)
        .select(
            "id",
            (u * 1000.0).alias("x"),
            (u * 500.0 + (F.abs(F.xxhash64(F.lit(31), "id"))
                          % F.lit(10000)).cast("double") / 10.0).alias("y"),
        )
        .localCheckpoint()
    )
    out: dict = {"rows": n, "cores": args.cores}
    t0 = time.perf_counter()
    r = spearman_corr(base, "x", "y").first()
    wall = round(time.perf_counter() - t0, 1)
    out.update(rho=r["rho"], spearman_sec=wall,
               spearman_rows_per_sec=round(n / wall))
    a = base.where(F.col("id") % 2 == 0).select(F.col("y").alias("value"))
    b = base.where(F.col("id") % 2 == 1).select(F.col("y").alias("value"))
    t0 = time.perf_counter()
    r = mann_whitney(a, b).first()
    wall = round(time.perf_counter() - t0, 1)
    out.update(mw_z=r["z"], mw_sec=wall, mw_rows_per_sec=round(n / wall))
    t0 = time.perf_counter()
    r = ks_test(a, b, value_col="value").first()
    wall = round(time.perf_counter() - t0, 1)
    out.update(ks_stat=r["ks_stat"], ks_sec=wall,
               ks_rows_per_sec=round(n / wall))
    print(json.dumps(out))
    spark.stop()


@leg("--skewjoin-rows",
     "skew-join soak: fact N rows (one key = 30%%) "
     "vs 5M-key dim — plain join (AQE on/off) vs "
     "skew_join, identical-result assert")
def _skewjoin_soak(args) -> None:
    """Generic skew-join soak: fact N rows with ONE key carrying 30%,
    dim too large to auto-broadcast.  Times the plain shuffle join
    (with and without AQE skew mitigation) against skew_join's
    census-routed hybrid; asserts identical (count, sum) results."""
    from pyspark.sql import functions as F

    from grass_spark.operators.skewjoin import skew_join

    n = args.skewjoin_rows
    n_keys = 5_000_000
    spark = session("soak_skewjoin", args.cores, 0, quiet=True)
    hot = F.abs(F.xxhash64(F.lit(7), "id")) % 10 < 3  # 30% hot
    fact = (
        spark.range(n)
        .repartition(args.cores * 4)
        .select(
            F.when(hot, F.lit(0))
            .otherwise(F.abs(F.xxhash64(F.lit(11), "id")) % n_keys)
            .alias("k"),
            (F.col("id") % 1000).alias("payload"),
        )
        .localCheckpoint()
    )
    dim = (
        spark.range(n_keys)
        .select(
            F.col("id").alias("k"),
            F.repeat(F.lit("x"), 64).alias("dval"),
        )
        .localCheckpoint()
    )
    out: dict = {"rows": n, "dim_keys": n_keys, "cores": args.cores}

    def _run(tag, df):
        t0 = time.perf_counter()
        r = df.agg(
            F.count(F.lit(1)).alias("c"), F.sum("payload").alias("s")
        ).first()
        out[f"{tag}_sec"] = round(time.perf_counter() - t0, 1)
        out[f"{tag}_rows_per_sec"] = round(n / out[f"{tag}_sec"])
        return (r["c"], r["s"])

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    plain_noaqe = _run("plain_noskewaqe", fact.join(dim, "k"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    plain = _run("plain_aqe", fact.join(dim, "k"))
    ours = _run(
        "skew_join",
        skew_join(fact, dim, "k", hot_threshold=max(n // 100, 1000)),
    )
    assert plain == ours == plain_noaqe, (plain, ours, plain_noaqe)
    out["rows_joined"] = plain[0]
    print(json.dumps(out))
    spark.stop()


@leg("--boot-rows",
     "Poisson-bootstrap soak: N rows x 64 "
     "replicates of md5 Poisson weights, lo/hi")
def _boot_soak(args) -> None:
    """Poisson-bootstrap soak: N rows x 64 replicates of md5-derived
    Poisson(1) weights — a pure map-side explode+census; the shuffle
    carries 64 x tasks rows.  Run at lo/hi cores for efficiency."""
    from pyspark.sql import functions as F

    from grass_spark.operators.inference import poisson_bootstrap

    n = args.boot_rows
    spark = session("soak_boot", args.cores, 0, quiet=True)
    base = (
        spark.range(n)
        .repartition(args.cores * 4)
        .select(
            F.col("id").alias("event_id"),
            ((F.abs(F.xxhash64(F.lit(3), "id")) % 10000).cast("double")
             / 100.0).alias("value"),
        )
        .localCheckpoint()
    )
    out: dict = {"rows": n, "cores": args.cores, "n_reps": 64}
    for mode in ("md5", "fast"):
        t0 = time.perf_counter()
        r = poisson_bootstrap(base, n_reps=64, hash=mode).first()
        wall = round(time.perf_counter() - t0, 1)
        out[f"{mode}_sec"] = wall
        out[f"{mode}_weighted_rows_per_sec"] = round(n * 64 / wall)
        out[f"{mode}_ci"] = [r["ci_lo"], r["ci_hi"]]
        out["mean"] = r["mean"]
    print(json.dumps(out))
    spark.stop()


@leg("--setsim-docs",
     "exact set-similarity join soak over N docs "
     "with planted near-dup clusters, lo/hi")
def _setsim_soak(args) -> None:
    """Exact prefix-filtered set-similarity self-join over N synthetic
    docs with planted near-dup clusters (3-word shingle sets, Jaccard
    >= 0.8).  Boilerplate cliques are disabled (boiler_every=n): an
    identical-text clique makes the OUTPUT itself quadratic — exact
    all-pairs on it belongs to exact_dedup, the near_dedup cap lesson.
    Reports wall, docs/s, pair count, and recall against the planted
    base->copy ground truth."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_documents
    from grass_spark.operators.dedup import shingles_of_words
    from grass_spark.operators.setsim import setsim_pairs

    n = args.setsim_docs
    spark = session("soak_setsim", args.cores, min(512, n // 100_000))
    docs = synth_documents(
        spark, n_docs=n, boiler_every=n
    ).repartition(args.cores * 4).localCheckpoint()
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = docs.select(
        "doc_id", shingles_of_words(words, 3).alias("sh")
    )
    t0 = time.perf_counter()
    pairs = setsim_pairs(
        toks, id_col="doc_id", tokens_col="sh", threshold=0.8
    )
    pairs = pairs.localCheckpoint()  # count + recall join consumers
    n_pairs = pairs.count()
    wall = round(time.perf_counter() - t0, 1)

    copies = docs.filter(
        (F.col("true_cluster") >= 0)
        & (F.col("doc_id") != F.col("true_cluster"))
    ).select("doc_id")
    n_copies = copies.count()
    matched = pairs.select(F.col("id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    caught = copies.join(matched, "doc_id").count()
    print(json.dumps({
        "docs": n, "cores": args.cores, "setsim_sec": wall,
        "docs_per_sec": round(n / wall), "pairs": int(n_pairs),
        "near_dup_copies": int(n_copies),
        "copies_caught": int(caught),
        "recall": round(caught / max(n_copies, 1), 4),
    }))
    spark.stop()


@leg("--fuzzy-names",
     "blocked fuzzy-linkage soak over N serial "
     "names (blocks of 100, lev<=1), lo/hi")
def _fuzzy_soak(args) -> None:
    """Blocked fuzzy linkage over N synthetic names: 9-digit serials
    blocked on all-but-the-last-two digits (blocks of <= 100), exact
    Levenshtein <= 1 verify.  Work is sum-of-block^2 by construction —
    the soak verifies the equi-join shape holds that bound at scale."""
    from pyspark.sql import functions as F

    from grass_spark.operators.linkage import blocked_fuzzy_pairs

    n = args.fuzzy_names
    spark = session("soak_fuzzy", args.cores, min(512, n // 100_000))
    names = (
        spark.range(n).repartition(args.cores * 4)
        .select(
            F.col("id"),
            F.format_string("user-%09d", F.col("id")).alias("name"),
        )
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    n_pairs = blocked_fuzzy_pairs(
        names, id_col="id", name_col="name", block=12, max_dist=1
    ).count()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "names": n, "cores": args.cores, "fuzzy_sec": wall,
        "names_per_sec": round(n / wall), "pairs": int(n_pairs),
        "lev_calls": n * 99 // 2,
    }))
    spark.stop()


@leg("--sweep-intervals",
     "interval-concurrency sweep soak over N "
     "intervals (census + calendar window), lo/hi")
def _sweep_soak(args) -> None:
    """Interval-concurrency sweep over N intervals spread across a
    2-year calendar: the corpus-sized stage is one map-side-combinable
    day census; the cumulative sweep itself runs over <= 760 rows."""
    from pyspark.sql import functions as F

    from grass_spark.operators.sweep import concurrency_sweep

    n = args.sweep_intervals
    spark = session("soak_sweep", args.cores)
    h = F.abs(F.xxhash64(F.lit(5), "id"))
    iv = (
        spark.range(n).repartition(args.cores * 4)
        .select(
            F.date_add(F.lit("2024-01-01").cast("date"),
                       (h % 720).cast("int")).alias("s"),
            (h % 28 + 1).cast("int").alias("_d"),
        )
        .select("s", F.expr("date_add(s, _d)").alias("e"))
        .localCheckpoint()
    )
    t0 = time.perf_counter()
    out = concurrency_sweep(iv, start_col="s", end_col="e").agg(
        F.count(F.lit(1)).alias("days"), F.max("peak").alias("max_peak")
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    print(json.dumps({
        "intervals": n, "cores": args.cores, "sweep_sec": wall,
        "intervals_per_sec": round(n / wall),
        "days": int(out["days"]), "max_peak": int(out["max_peak"]),
    }))
    spark.stop()


# -------------------------------------------------------------------- main
def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--avg-turns", type=int, default=500)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--data", default="/tmp/grass_soak")
    select = ap.add_mutually_exclusive_group()
    for lg in LEGS:
        if lg.selector:
            select.add_argument(lg.selector, type=int, default=0, help=lg.help)
        for names, kwargs in lg.flags:
            ap.add_argument(*names, **kwargs)
    return ap


def parse_args(argv: list[str] | None = None) -> tuple[Leg, argparse.Namespace]:
    """Parse the command line once; return the selected leg (the rollup
    leg when no selector flag is given) and the parsed args.  Two
    selector flags, or ``--cores`` <= LO_CORES on a lo/hi leg, exit 2."""
    ap = build_parser()
    args = ap.parse_args(argv)
    chosen = [lg for lg in LEGS if lg.selector and getattr(args, lg.dest)]
    lg = chosen[0] if chosen else next(lg for lg in LEGS if lg.selector is None)
    if lg.lohi and args.cores <= LO_CORES:
        ap.error(f"{lg.selector} times lo={LO_CORES} cores against "
                 f"hi=--cores; --cores must be > {LO_CORES}")
    return lg, args


def main(argv: list[str] | None = None) -> None:
    lg, args = parse_args(argv)
    lg.fn(args)


if __name__ == "__main__":
    main()
