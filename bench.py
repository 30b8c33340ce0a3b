"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec}, "sf": ...}

Each query is forced end-to-end with the noop sink (full compute, no
driver collect) — count() alone would let Catalyst prune the very
projections we're benchmarking.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import signal
import sys
import tempfile
import time

import __spark_entry__ as entry
from nifi_extracttext_processor_spark.operators import lifecycle
from nifi_extracttext_processor_spark.session import get_spark
from pyspark.sql import functions as F

# representative, heavy-path headliners across the operator surface
HEADLINE = [
    "sql_agg_pricing",     # group-agg over lineitem (codegen path)
    "sql_join_revenue",    # 3-way join with broadcast dim
    "split_lines",         # explode fan-out
    "events_window_agg",   # time-bucketed agg
    "record_roundtrip",    # JSON path extraction
    "nlp_enrich",          # higher-order array expressions (r2:
                           # sentiment, now + entities in one slot)
    "token_fingerprint",   # regex-heavy projections + hash (r2:
                           # token_stats + fingerprint, merged)
    "dedup_exact",         # hash group-by on doubled corpus
    "dedup_near_pairs",    # shingle→minhash→band join→verify, both
                           # band configs (r2: dedup_minhash + ngram)
    "dedup_simhash_sig",   # 64-bit higher-order fold
    "ann_topk",            # brute-force cosine top-k
    "lang_quality",        # mixed regex/array scoring (r2:
                           # quality_score + lang_id, merged)
    # round-2 additions
    "tfidf_top_terms",     # (doc,term) agg + df join + keyed rank
    "events_sessionize",   # gaps-and-islands keyed windows
    "dedup_clusters",      # iterative min-label propagation
    "scrub_pii",           # 4-pattern regex projection
    "top_terms",           # TakeOrdered corpus top-k
    # round-5 additions (AFTER the legacy 17 — order preserved for
    # cross-round comparability of the legacy set)
    "asof_plain",          # keyed-window as-of join (union+last_value)
    "asof_bucketed",       # skew-safe two-pass as-of join
    "decontaminate",       # broadcast bench n-grams + matched-key agg
    "pack_sequences",      # hash-bucketed running-sum packing
    "top_domains",         # URL extract + TakeOrdered top-k
    "exact_substring_dedup",  # window hashes + span merge + surgery
    "sessionize_bucketed",    # skew-insurance twin of events_sessionize
    # round-6 additions (appended, legacy order preserved)
    "semantic_dedup",      # Lloyd iterations + oracle-exact pair prune
    "semantic_dedup_gemm",  # scale-path twin: per-cluster numpy matmul
    "char_lm_score",       # n-gram explode + broadcast LM + partial agg
    "web_corpus_prep",     # composed pipeline: normalize kernel +
                           # filters + LM + exact dedup + token stats
    # round-7 additions (appended, legacy order preserved)
    "semantic_dedup_k256",  # SemDeDup at production-shaped k: Arrow
                            # matmul assignment + scatter-add update
                            # + gemm prune (the large-k scale path)
    "bm25_topk",           # token scan + matched-term agg + TakeOrdered
    "quality_score",       # classifier scoring plan: explode + bucket
                           # + weight lookup + per-doc sum
    "zorder_cluster",      # z-value bit arithmetic + range shuffle +
                           # partition-local sort (the layout write)
    "host_pagerank",       # 3 power iterations: keyed join + agg per
                           # iteration, localCheckpoint lineage
    "events_funnel",       # per-step shrinking min-aggregate chain
    "events_retention",    # distinct (user, period) + cohort join
    "profile_events",      # single-scan multi-column profile
    # round-8 additions (appended, legacy order preserved)
    "events_interval_join",  # bin-strategy range join (hash equi-join
                             # + exact BETWEEN post-filter)
    "unpack_archives",     # map-only archive explode (post r8 memory
                           # bounds); timed window INCLUDES the synth
                           # zip-pack stage (same Arrow map shape, so
                           # the ratio is stable round over round)
    "image_phash_pairs",   # banded hamming join plumbing (fake md5
                           # kernel — the join/popcount cost, not the
                           # DCT, is the 100 TB-relevant part)
    "dsir_weights",        # hashed-ngram models + broadcast-join
                           # scoring (two aggs + one score pass)
    # round-9 additions (appended, legacy order preserved)
    "audio_match_pairs",   # constellation-hash equi-join + offset
                           # histogram (fake kernel: the join cost)
    "fuzzy_edit_join",     # prefix-filtered edit-similarity self-join
    "nbayes_predict",      # NB train (bounded aggs) + broadcast score
    "events_gap_fill",     # per-key spine explode + keyed fill windows
    "llm_pretrain",        # the capstone composition, timed as the
                           # package's llm_pretrain_plan: 2-source
                           # clean (near+semantic dedup, decontaminate)
                           # + token mixing + split + BPE + packing +
                           # shard write, then the manifest read-back
    "hll_token_distinct",  # r10 sketch family: HLL registers over a
                           # token explode (map-side-combinable agg)
    "ab_bootstrap_ci",     # r11: B=60 Poisson resamples — explode x B
                           # into a map-side agg, decimal exact sums
    "ab_bootstrap_ci_xx",  # r12: same plan, md5=False — the xxhash64
                           # scale path (VERDICT r11 task 4: measure
                           # the claimed ~5x-cheaper weight hash)
    "attribution_position",  # r12: user-keyed touch x conversion pair
                             # join + per-conversion windows
    "ab_mann_whitney",     # r12: distinct-value rank aggregate +
                           # keyed prefix-sum window
    # round-13 additions (appended, legacy order preserved)
    "ab_group_sequential",  # r13: K=3 scheduled looks from ONE
                            # conditional-sum scan — proves the
                            # claimed O(1)-passes (cost must track a
                            # single agg, not K of them)
    "doc_link_components",  # r13: iterative min-label propagation —
                            # the one family whose wall-time scales
                            # with graph diameter; measured so the
                            # localCheckpoint-per-round overhead is a
                            # number, not a claim
    # round-14 additions (appended, legacy order preserved)
    "survival_report",      # r14: the composed survival battery —
                            # KM + Nelson-Aalen + RMST + logrank off
                            # ONE shared km_counts collapse; the
                            # shared-state claim is the number here
                            # (cost must track ~1 collapse + bounded
                            # day-grain windows, not 4 scans)
    "events_pettitt",       # r14: Pettitt changepoint — day-grain
                            # collapse then ONE tie-aware rank window
                            # over the bounded day table
    "eval_roc_auc",         # r14: grouped Mann-Whitney AUC over the
                            # distinct-score collapse, now with the
                            # quantization guard in-plan (the guard's
                            # aggregate+join overhead is measured,
                            # not assumed)
    # round-15 additions (appended, legacy order preserved)
    "ab_kruskal_wallis",    # r15: k-arm rank omnibus — pooled midrank
                            # prefix window + guard, with the r15
                            # decimal(38,0) rank-sum accumulation (the
                            # overflow fix's cost is measured here)
    "events_seasonal_decompose",  # r15: exact-decimal centered-MA
                                  # fold + position-keyed seasonal
                                  # index folds over the day collapse
    # round-16 additions (appended, legacy order preserved)
    "semantic_dedup_incremental",  # r16: batch-vs-catalog SemDeDup —
                                   # cluster-pruned catalog probe (the
                                   # incremental claim is the number:
                                   # cost must track the BATCH size,
                                   # not the catalog scan)
    "events_robust_trend",  # r16: MK S-statistic + Sen slope — the
                            # C(n,2) day-pair expansion stays bounded
                            # by the day collapse, never event-scale
]

# ---------------------------------------------------------------------------
# Split-session protocol (VERDICT r15 task 3): the r15 split-session
# experiment showed a single long session costs 10-19% (JVM heap/GC/
# codegen/block-manager residue), so the ONE-SHOT total is a function
# of headliner count, not plan quality. From r16 the band-defining
# measurement is two fresh sessions (bench_variance.py --split), and
# the one-shot is a smoke number only.
#
# SESSION-COMPOSITION RULE (append-only, so session A stays
# byte-stable across rounds): boundaries never move once frozen;
# new headliners append to the LAST session; when the last session
# exceeds ~35 headliners, freeze a new boundary at its then-current
# end. Frozen at r16: A = HEADLINE[:29] (the legacy-through-r6 set),
# B = HEADLINE[29:].
SESSION_BOUNDARIES = [29]


def session_slices() -> "list[list[str]]":
    """HEADLINE partitioned by the frozen boundaries."""
    cuts = [0, *SESSION_BOUNDARIES, len(HEADLINE)]
    return [HEADLINE[a:b] for a, b in zip(cuts, cuts[1:])]


def _asof_frames(spark, sf_dir):
    from nifi_extracttext_processor_spark.sources.tables import load_table
    e = load_table(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id"))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts",
                         F.round("value", 2).alias("purchase_value")))
    return clicks, purchases


def _q_asof_plain(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.temporal import asof_join
    clicks, purchases = _asof_frames(spark, sf_dir)
    return asof_join(clicks, purchases, on="ts", by="user_id",
                     right_cols=["purchase_value"])


def _q_asof_bucketed(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.temporal import (
        asof_join_bucketed,
    )
    clicks, purchases = _asof_frames(spark, sf_dir)
    return asof_join_bucketed(clicks, purchases, on="ts", by="user_id",
                              right_cols=["purchase_value"],
                              bucket="1 hour")


def _q_sessionize_bucketed(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.sessions import (
        sessionize_bucketed,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    return sessionize_bucketed(load_table(spark, sf_dir, "events"))


# bench-local callables: the driver slot `events_asof` is a
# method-tagged UNION of both as-of paths (one oracle covers both) and
# sessionize_bucketed is pytest-equivalence-covered, so the
# per-method timings live here instead
def _q_semantic_dedup_gemm(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.clustering import (
        semantic_dedup,
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(e, threshold=0.4, method="gemm")


def _q_semantic_dedup_k256(spark, sf_dir):
    # k=256 forces the Arrow assignment + scatter-add centroid update
    # (k*dim = 16384 stays under the literal ceiling only for dim<=
    # 128; force "arrow" so the bench measures the scale kernel)
    from nifi_extracttext_processor_spark.operators.clustering import (
        semantic_dedup,
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(e, k=256, iters=2, threshold=0.4,
                          method="gemm", assign="arrow")


def _q_web_corpus_prep(spark, sf_dir):
    from nifi_extracttext_processor_spark.plans.web_corpus import (
        prepare_web_corpus,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    return prepare_web_corpus(docs, min_quality=0.3)


@contextlib.contextmanager
def _q_llm_pretrain(spark, sf_dir):
    """The package's composed pretraining plan, llm_pretrain_plan, over
    the documents table split into two pseudo-sources (even/odd ids,
    60/40 token weights), with the embeddings sidecar for semantic
    dedup and a benchmark slice for decontamination. The plan runs and
    writes its shards on entry; the yielded frame is the manifest read
    back from them, and the shards are removed on exit."""
    from nifi_extracttext_processor_spark.plans.llm_pretrain import (
        llm_pretrain_plan,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings") \
        .withColumnRenamed("vec_id", "doc_id")
    srcs = [(docs.filter(F.col("doc_id") % 2 == 0), 0.6),
            (docs.filter(F.col("doc_id") % 2 == 1), 0.4)]
    with tempfile.TemporaryDirectory(prefix="bench-llm_pretrain-") as out:
        manifest, _merges = llm_pretrain_plan(
            srcs, out, benchmark=docs.filter(F.col("doc_id") % 97 == 0),
            embeddings=emb, n_merges=200)
        yield manifest


def _q_zorder_cluster(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.layout import (
        cluster_by_zorder,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    e = load_table(spark, sf_dir, "events")
    return cluster_by_zorder(e.select("event_id", "user_id", "value"),
                             ["user_id", "value"], num_partitions=32)


def _q_unpack_archives(spark, sf_dir):
    from nifi_extracttext_processor_spark.operators.unpack import (
        unpack_archives,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _pack(batches):
        import io
        import zipfile

        import pandas as pd
        for pdf in batches:
            paths, blobs = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w",
                                     zipfile.ZIP_DEFLATED) as zf:
                    for j in range(4):
                        zf.writestr(f"m{j}.txt", (t or "")[j::4])
                paths.append(f"/bench/{i}.zip")
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"path": paths, "content": blobs})

    packed = docs.mapInPandas(_pack, "path string, content binary")
    return unpack_archives(packed)


def _q_ab_bootstrap_ci_xx(spark, sf_dir):
    """The driver slot ab_bootstrap_ci's md5 weight hash is the
    oracle-replayable twin; md5=False swaps xxhash64 (same plan,
    same exact-sum agg — only the per-(row, b) hash changes). This
    bench-local twin measures the scale path's actual saving
    (abtest.py:_boot_uniform documents ~5x on the hash itself; the
    end-to-end ratio is what a 100 TB capacity plan needs)."""
    from nifi_extracttext_processor_spark.operators.abtest import (
        ab_bootstrap_ci,
    )
    from nifi_extracttext_processor_spark.sources.tables import load_table
    ev = load_table(spark, sf_dir, "events")
    exp = ev.withColumn(
        "variant",
        F.when(F.pmod(F.col("event_id"), 3) == 0, "c").otherwise("t"))
    return ab_bootstrap_ci(exp, "variant", "value", "event_id",
                           n_boot=60, group_by=["event_type"],
                           md5=False)


LOCAL = {
    "ab_bootstrap_ci_xx": _q_ab_bootstrap_ci_xx,
    "unpack_archives": _q_unpack_archives,
    "zorder_cluster": _q_zorder_cluster,
    "asof_plain": _q_asof_plain,
    "asof_bucketed": _q_asof_bucketed,
    "sessionize_bucketed": _q_sessionize_bucketed,
    "semantic_dedup_gemm": _q_semantic_dedup_gemm,
    "semantic_dedup_k256": _q_semantic_dedup_k256,
    "web_corpus_prep": _q_web_corpus_prep,
    "llm_pretrain": _q_llm_pretrain,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # SIGTERM unwinds like an exception, so `built` still removes what
    # the running row wrote (SIGKILL cannot be caught)
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(
        128 + signum))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    warm_up(spark)

    # Per-query fresh-session mode (drift-adjudication protocol,
    # VERDICT r9 task 2): SPARK_GRAFT_ONLY=a,b runs just those
    # headliners so a query's standalone median can be separated
    # from 45-query session-composition effects.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    base = HEADLINE
    # SPARK_GRAFT_SESSION=0|1|... selects one frozen split-session
    # slice (the band-defining protocol since r16; see
    # SESSION_BOUNDARIES above)
    sess = os.environ.get("SPARK_GRAFT_SESSION")
    if sess is not None:
        base = session_slices()[int(sess)]
    selected = ([n for n in base if n in
                 {s.strip() for s in only.split(",")}]
                if only else base)

    timings: dict[str, float] = {}
    for name in selected:
        t0 = time.perf_counter()
        with built(LOCAL.get(name) or qs[name], spark, sf_dir) as df:
            force(df)
            timings[name] = round(time.perf_counter() - t0, 3)
        print(f"  {name}: {timings[name]}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }))
    spark.stop()


@contextlib.contextmanager
def built(fn, spark, sf_dir):
    """Yield the row's DataFrame; a row that writes files (llm_pretrain)
    is a context manager that yields it and removes what it wrote.
    Afterwards free the row's tracked persists (minhash_base,
    substring-dedup occ, ...) so block-manager residue from one row
    never skews the next, blocking so eviction cannot overlap the next
    row's timed window; both also when the row raises."""
    with contextlib.ExitStack() as stack:
        stack.callback(lifecycle.release_all, blocking=True)
        out = fn(spark, sf_dir)
        if isinstance(out, contextlib.AbstractContextManager):
            out = stack.enter_context(out)
        yield out


def warm_up(spark) -> None:
    """JVM/codegen warm-up on a trivial action, then the Python-worker
    warm-up (r16): pre-fork one Arrow worker per core with the heavy
    imports done. Worker reuse then serves every query from the warm
    pool, so per-query timings measure plan cost, not the one-time
    daemon fork + pandas/numpy/pyarrow import (~1-3 s/worker on some
    VMs). A real cluster pays that cost once per executor lifetime,
    not per query; timing it inside whichever query happens to run
    the first Python stage was a measurement artifact."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cores = spark.sparkContext.defaultParallelism

    def _touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        yield from batches

    (spark.range(cores).repartition(cores)
     .mapInPandas(_touch, "id long").count())


if __name__ == "__main__":
    main()
