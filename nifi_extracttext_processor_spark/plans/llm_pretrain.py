"""The composed LLM-pretraining data pipeline — the capstone that
chains every stage this engine provides: multi-source documents in,
tokenized / packed / sharded training corpus (with manifest) out.

This is the end-to-end shape of a RedPajama / Dolma / FineWeb build:

  per source:  prep (plans.web_corpus / plans.training_data)
               → near dedup (MinHash-LSH keep-best)
               → semantic dedup (SemDeDup, optional embedding sidecar)
               → decontamination (n-gram; semantic optional)
  across sources:
               → token-share mixing (mix_corpora_tokens)
               → cross-source exact dedup
               → split assignment (split_by_hash)
               → BPE train (train split) → tokenize → pack → shard

Stage-order rationale — cheapest / narrowest / most-selective first,
the 100 TB ordering where every expensive stage sees only survivors
(same discipline as plans/web_corpus.py):

1. **Per-source prep first.** Language/quality/Gopher filters are
   narrow zero-UDF projections; URL + exact dedup shuffle only
   (hash, id). They remove the bulk cheaply so the quadratic-ish
   stages below never see it.
2. **Near dedup per source, BEFORE mixing.** MinHash shuffles only
   band hashes and ids. It must precede the mixture: duplicate mass
   inflates a source's token total, and mix rates derived from
   inflated totals over-sample exactly the duplicated content.
3. **Semantic dedup after near dedup.** The most expensive dedup
   (vector assignment + per-cluster pairwise) runs on the fewest
   rows. Embeddings ride a sidecar keyed by doc id — text and
   vectors never appear in the same shuffle.
4. **Decontamination before mixing.** Benchmark n-grams broadcast;
   only matched doc ids shuffle. Contaminated docs must not count
   toward the token budget (and must never reach the tokenizer).
5. **Token-share mixing.** One planning job for ALL sources' token
   totals (tagged union + grouped agg), then deterministic hash
   sampling — reruns reproduce the mixture bit-for-bit.
6. **Cross-source exact dedup AFTER mixing.** The same page
   syndicated into two sources is rare but real; a (fingerprint,
   id)-only shuffle over the mixed survivors is cheap. Running it
   after mixing perturbs achieved shares by at most the cross-source
   duplicate rate (documented; the per-source near dedup already
   removed the mass that would matter).
7. **Split assignment is narrow** and runs on the final corpus so
   membership is a pure function of (id, seed) — documents can never
   migrate across train/val/test between reruns or snapshots.
8. **Tokenizer trains on the train split only** (no val/test
   leakage into the vocabulary), from a bounded sampled histogram;
   encoding is a map-only Arrow kernel; packing windows are
   hash-bucketed (no global sort, no hot key); the shard writer
   costs exactly one repartition and manifests what it wrote.

Reference scope: the NiFi reference (tspannhw/nifi-extracttext-
processor) ends at extracted text + attributes; this plan is the
SURVEY §2 extension block composed end-to-end (the "what a user
would actually run" pipeline the per-stage operators exist for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _run_concurrently(tasks: "list") -> list:
    """Run argless thunks on concurrent driver threads (guide §2.6
    overlap-independent-jobs) and return their results in order;
    exceptions propagate. Single task short-circuits. Used to overlap
    independent materializations (e.g. the benchmark n-gram table next
    to the per-source clean pipelines — the r17 'third lane')."""
    if len(tasks) <= 1:
        return [t() for t in tasks]
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(4, len(tasks))) as ex:
        futs = [ex.submit(t) for t in tasks]
        return [f.result() for f in futs]


def clean_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_threshold: float | None = 0.5,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.95,
    semantic_k: int = 8,
    benchmark: DataFrame | None = None,
    benchmark_embeddings: DataFrame | None = None,
    decontaminate_n: int = 8,
    semantic_decon_threshold: float = 0.9,
    vec_col: str = "embedding",
    benchmark_ngram_table: DataFrame | None = None,
) -> DataFrame:
    """One source through stages 2-4: near dedup → semantic dedup →
    decontamination. Input should already be prepped (stage 1 —
    plans.web_corpus.prepare_web_corpus or
    plans.training_data.prepare_training_data); this function only
    needs (id_col, text_col, ...passthrough).

    Every stage here moves ids/hashes/vectors only — document text
    stays put until the survivors are materialized."""
    from ..operators.clustering import semantic_dedup
    from ..operators.corpus import (
        decontaminate_filter,
        decontaminate_semantic,
    )
    from ..operators.dedup import keep_best_per_cluster

    out = df
    if near_threshold is not None:
        kept = keep_best_per_cluster(
            out.select(id_col, text_col), id_col=id_col,
            text_col=text_col, threshold=near_threshold)
        out = out.join(kept.select(id_col), id_col)
    if embeddings is not None:
        vecs = embeddings.select(F.col(id_col),
                                 F.col(vec_col).alias("__v"))
        # restrict the expensive stage to near-dedup survivors
        vecs = vecs.join(out.select(id_col), id_col)
        # sidecar coverage is rarely 100%: docs WITHOUT an embedding
        # pass through unexamined (semantic dedup cannot judge them);
        # only the covered-but-pruned ids are dropped. The isEmpty
        # probe guards kmeans against a zero-coverage source (e.g. a
        # code corpus mixed with an embedded web corpus); persisting
        # vecs first folds the probe's pass into the cache that
        # semantic_dedup reads anyway, so it costs no extra scan.
        from ..operators.lifecycle import track_persist

        vecs = track_persist(vecs)
        if not vecs.isEmpty():
            # assign="arrow" deliberately even at small k: the
            # literal kernel's k*dim-term plan costs more in Catalyst
            # analysis/codegen than the Arrow crossing costs in
            # workers once the pool is warm (r16 A/B at k=32:
            # literal regressed the composed pipeline ~3x)
            sem_kept = semantic_dedup(
                vecs, id_col=id_col, vec_col="__v", k=semantic_k,
                threshold=semantic_threshold,
                method="gemm", assign="arrow")
            pruned = vecs.select(id_col).join(
                sem_kept.select(id_col), id_col, "left_anti")
            out = out.join(pruned, id_col, "left_anti")
    if benchmark is not None or benchmark_ngram_table is not None:
        out = decontaminate_filter(out, benchmark, id_col=id_col,
                                   text_col=text_col,
                                   n=decontaminate_n,
                                   ngrams=benchmark_ngram_table)
    if benchmark_embeddings is not None:
        if embeddings is None:
            raise ValueError(
                "semantic decontamination needs the corpus embeddings "
                "sidecar too")
        flags = decontaminate_semantic(
            embeddings.join(out.select(id_col), id_col),
            benchmark_embeddings, id_col=id_col, vec_col=vec_col,
            threshold=semantic_decon_threshold)
        out = out.join(
            flags.filter(~F.col("contaminated")).select(id_col),
            id_col)
    return out


def build_pretrain_corpus(
    sources: "list[tuple[DataFrame, float]]",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_budget: int | None = None,
    split_weights: "dict[str, int] | None" = None,
    seed: int = 0,
    md5: bool = False,
    cross_source_dedup: bool = True,
) -> DataFrame:
    """Stages 5-7 over CLEANED sources (clean_source output):
    token-share mixing → cross-source exact dedup → split labels.
    Returns (id_col, text_col, ...passthrough, mix_source, split)."""
    from ..operators.corpus import (
        mix_corpora_tokens,
        split_by_hash,
        split_by_hash_md5,
    )
    from ..operators.dedup import dedup_exact

    mixed = mix_corpora_tokens(sources, text_col=text_col,
                               token_budget=token_budget,
                               id_col=id_col, seed=seed, md5=md5)
    if cross_source_dedup:
        mixed = dedup_exact(mixed, id_col=id_col, text_col=text_col)
    if md5:
        return split_by_hash_md5(mixed, id_col=id_col,
                                 weights=split_weights)
    return split_by_hash(mixed, id_col=id_col, weights=split_weights,
                         seed=seed)


def tokenize_pack_shard(
    corpus: DataFrame,
    path: str,
    num_shards: int = 8,
    seq_budget: int = 2048,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: "list[tuple[str, str]] | str | None" = None,
    n_merges: int = 500,
    bpe_sample_fraction: float | None = None,
    train_split: str = "train",
    seed: int = 0,
    mode: str = "overwrite",
) -> "tuple[DataFrame, list[tuple[str, str]]]":
    """Stage 8: BPE (train on the train split unless `merges` is
    given — a merge list, or a str path saved with models.save_bpe)
    → tokenize (exact counts) → pack sequences on the REAL token
    counts → land as stable shards + manifest.

    Returns (manifest, merges). Packing uses bpe_tokenize's
    n_bpe_real via pack_sequences(count_col=...) so sequence budgets
    are measured in the tokens that will actually be emitted, not the
    regex approximation."""
    from ..operators.corpus import pack_sequences, write_corpus_shards
    from ..operators.lifecycle import track_persist
    from ..operators.tokenize import bpe_tokenize, train_bpe

    # r17: this stage traverses `corpus` several times (BPE histogram,
    # the tokenize kernel, the pack join-back) and the frame usually
    # sits on a mix/cross-source-dedup/split chain whose exact-dedup
    # shuffle would replay per traversal — persist the survivors once
    # (lifecycle-tracked; the release sweep frees it with the rest)
    corpus = track_persist(corpus)
    if merges is None:
        train = corpus.filter(F.col("split") == train_split) \
            if "split" in corpus.columns else corpus
        merges = train_bpe(train, text_col=text_col,
                           n_merges=n_merges,
                           sample_fraction=bpe_sample_fraction,
                           seed=seed)
    elif isinstance(merges, str):
        from ..operators.models import load_bpe
        merges = load_bpe(corpus.sparkSession, merges)
    toked = bpe_tokenize(corpus, merges, text_col=text_col,
                         tokens_col=None, count_col="n_bpe_real")
    packed = pack_sequences(toked, budget=seq_budget,
                            n_buckets=n_buckets, id_col=id_col,
                            count_col="n_bpe_real")
    out = toked.join(packed.select(id_col, "bucket", "seq_no"),
                     id_col)
    manifest = write_corpus_shards(out, path, num_shards,
                                   id_col=id_col, seed=seed,
                                   token_col="n_bpe_real", mode=mode)
    return manifest, merges


def llm_pretrain_plan(
    sources: "list[tuple[DataFrame, float]]",
    path: str,
    benchmark: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_threshold: float | None = 0.5,
    semantic_threshold: float = 0.95,
    decontaminate_n: int = 8,
    token_budget: int | None = None,
    split_weights: "dict[str, int] | None" = None,
    num_shards: int = 8,
    seq_budget: int = 2048,
    n_merges: int = 500,
    seed: int = 0,
    md5: bool = False,
    report_contamination: bool = False,
) -> "tuple[DataFrame, list[tuple[str, str]]] | tuple[DataFrame, list[tuple[str, str]], DataFrame]":
    """The full composition: clean each (already-prepped) source,
    mix on token shares, split, tokenize, pack, shard. Returns
    (manifest, merges). See the module docstring for why the stages
    run in this order.

    With `report_contamination=True` (requires `benchmark`), also
    returns the per-benchmark-item leakage report as a third element:
    `contamination_report` over the RAW union of the input sources —
    i.e. what the eval owner needs to know about the incoming data,
    measured BEFORE the decontaminate stage silently drops the
    carriers (VERDICT r11 task 5: previously only callers who knew
    the standalone operator got the observability half). The report
    shares the decontaminate plan shape (broadcast benchmark,
    matched-keys-only shuffle) and is lazy — it costs nothing unless
    the caller evaluates it.

    Lifecycle: each cleaned source is persisted (lifecycle-tracked)
    at its fan-out boundary — the mixing planner aggregates token
    totals over it AND the sampler re-reads it; without the persist
    the near/semantic dedup would execute twice per source."""
    from ..operators.corpus import benchmark_ngrams, contamination_report
    from ..operators.lifecycle import track_persist

    report = None
    if report_contamination:
        if benchmark is None:
            raise ValueError(
                "report_contamination=True requires a benchmark")
        raw = sources[0][0].select(id_col, text_col)
        for df, _w in sources[1:]:
            raw = raw.unionByName(df.select(id_col, text_col))
        report = contamination_report(raw, benchmark, id_col=id_col,
                                      text_col=text_col,
                                      n=decontaminate_n)

    # Hoist the benchmark tokenization out of the per-source loop:
    # one distinct-n-gram table, persisted, broadcast into every
    # source's decontamination (N sources, ONE benchmark scan).
    bng = None
    if benchmark is not None:
        bng = track_persist(
            benchmark_ngrams(benchmark, text_col, decontaminate_n))

    def _clean_one(df: DataFrame) -> DataFrame:
        c = clean_source(df, id_col=id_col, text_col=text_col,
                         near_threshold=near_threshold,
                         embeddings=embeddings,
                         semantic_threshold=semantic_threshold,
                         benchmark=benchmark,
                         decontaminate_n=decontaminate_n,
                         benchmark_ngram_table=bng)
        p = track_persist(c.select(id_col, text_col))
        # eager: the mix planner and the sampler both traverse this
        # persist later — materializing it here (inside the source's
        # thread) keeps the expensive dedup chain in the parallel
        # region and hands the sequential phase a warm cache
        p.count()
        return p

    # r17 'third lane': the benchmark n-gram materialization runs on
    # its own driver thread NEXT TO the per-source cleans instead of
    # sequentially before them (guide §2.6). The cleans consume bng
    # only deep into their chains (decontaminate is their LAST stage),
    # so the count thread almost always wins the race; if a clean's
    # AQE leaf stage does build the broadcast before the cache is
    # warm, the race costs a duplicate bounded computation on idle
    # cores — never a value (bng is deterministic and the cache is
    # content-addressed to this plan).
    tasks = ([(lambda: bng.count())] if bng is not None else [])
    tasks += [(lambda df=df: _clean_one(df)) for df, _w in sources]
    results = _run_concurrently(tasks)
    if bng is not None:
        results = results[1:]
    cleaned = list(zip(results, [w for _df, w in sources]))
    corpus = build_pretrain_corpus(cleaned, id_col=id_col,
                                   text_col=text_col,
                                   token_budget=token_budget,
                                   split_weights=split_weights,
                                   seed=seed, md5=md5)
    manifest, merges = tokenize_pack_shard(
        corpus, path, num_shards=num_shards, seq_budget=seq_budget,
        n_merges=n_merges, id_col=id_col, text_col=text_col, seed=seed)
    if report_contamination:
        return manifest, merges, report
    return manifest, merges


def pretrain_select_sql(
    table: str = "documents",
    src_preds: "tuple[str, str]" = ("doc_id % 2 = 0",
                                    "doc_id % 2 = 1"),
    weights: "tuple[float, float]" = (0.6, 0.4),
    bench_pred: str = "doc_id % 97 = 0",
    near_threshold: float = 0.2,
    decontaminate_n: int = 8,
    seed: int = 0,
    split_weights: "dict[str, int] | None" = None,
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """DuckDB twin of the composed selection pipeline (stages 2 + 4-7
    of the module docstring, the SQL-expressible spine): per-source
    near-dup keep-best → n-gram decontamination → token-share mixing
    (totals, budget, rates and the md5 sample cut ALL derived inside
    SQL with the same double arithmetic the Spark planner runs) →
    cross-source exact dedup → split labels. Semantic dedup and
    BPE/packing are excluded: the former needs the embeddings sidecar
    and k-means (own driver rows), the latter is the rows-only
    tokenizer carve-out. Output: (id_col, mix_source, split).

    The mixing math mirrors mix_token_plan exactly: normalized
    weights are Python-float literals embedded with repr() (the SAME
    doubles the Spark planner uses), budget = trunc(min(tᵢ/wᵢ)),
    rate = least(1.0, budget·wᵢ/tᵢ), cut = floor(rate·10⁶) compared
    against the md5 bucket — every step is IEEE-double identical
    across engines."""
    from ..operators.corpus import shingles_sql
    from ..operators.dedup import keep_best_per_cluster_sql
    from ..operators.text_analysis import BPE_TOKEN_RE, fingerprint_sql

    split_weights = split_weights or {"train": 98, "val": 1,
                                      "test": 1}
    wsum = float(weights[0]) + float(weights[1])
    wn = [float(weights[0]) / wsum, float(weights[1]) / wsum]
    ntok = (f"len(regexp_extract_all(coalesce({text_expr}, ''), "
            f"'{BPE_TOKEN_RE}'))::BIGINT")
    bucket = (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR) "
              "|| '#{s}'), 1, 8))::BIGINT % 1000000 + 1000000) "
              "% 1000000")
    total = sum(split_weights.values())
    sbucket = (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), "
               f"1, 8))::BIGINT % {total} + {total}) % {total}")
    cases, lo = [], 0
    for label, w in split_weights.items():
        cases.append(f"WHEN {sbucket} >= {lo} AND "
                     f"{sbucket} < {lo + w} THEN '{label}'")
        lo += w
    split_case = "CASE " + " ".join(cases) + " END"
    sh = shingles_sql(text_expr, decontaminate_n)
    parts = [f"""
WITH bench AS (
  SELECT DISTINCT unnest({sh}) AS ng FROM {table}
  WHERE {bench_pred}
)"""]
    for i, pred in enumerate(src_preds):
        src = f"(SELECT {id_col}, {text_expr} FROM {table} WHERE {pred})"
        kb = keep_best_per_cluster_sql(src, id_col, text_expr,
                                       threshold=near_threshold)
        parts.append(f""",
src{i} AS (SELECT * FROM {src} s),
kb{i} AS (SELECT {id_col} FROM ({kb})),
dirty{i} AS (
  SELECT DISTINCT d.{id_col}
  FROM (SELECT s.* FROM src{i} s JOIN kb{i} USING ({id_col})) d,
       LATERAL (SELECT unnest({sh.replace(text_expr,
                                          'd.' + text_expr)}) AS ng) g
  WHERE g.ng IN (SELECT ng FROM bench)
),
clean{i} AS (
  SELECT s.* FROM src{i} s
  JOIN kb{i} USING ({id_col})
  WHERE s.{id_col} NOT IN (SELECT {id_col} FROM dirty{i})
),
tot{i} AS (SELECT sum({ntok}) AS t FROM clean{i})""")
    parts.append(f""",
budget AS (
  -- trunc, not CAST: DuckDB's double->BIGINT cast ROUNDS while the
  -- planner's Python int() truncates
  SELECT CAST(trunc(least((SELECT t FROM tot0) / {wn[0]!r},
                          (SELECT t FROM tot1) / {wn[1]!r}))
              AS BIGINT) AS b
)""")
    sels = []
    for i in range(2):
        cut = (f"floor(least(1.0, (SELECT b FROM budget) * {wn[i]!r} "
               f"/ (SELECT t FROM tot{i})) * 1000000)::BIGINT")
        sels.append(
            f"SELECT {id_col}, {text_expr}, {i} AS mix_source "
            f"FROM clean{i} "
            f"WHERE {bucket.replace('{s}', str(seed + i))} < ({cut})")
    parts.append(f""",
mixed AS ({sels[0]} UNION ALL {sels[1]}),
keep AS (
  SELECT min({id_col}) AS {id_col}
  FROM mixed GROUP BY {fingerprint_sql(text_expr)}
)
SELECT m.{id_col}, m.mix_source, {split_case} AS split
FROM mixed m JOIN keep USING ({id_col})""")
    return "".join(parts)


def temperature_weights(
    source_tokens: "DataFrame | dict[str, int]",
    tau: float = 0.7,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> "dict[str, float]":
    """Temperature-scaled mixture weights (Conneau & Lample 2019, the
    multilingual/source-sampling standard; Llama/PaLM data tables use
    the same form): w_i ∝ p_i^tau with p_i the source's token share.
    tau=1 keeps natural proportions (big sources dominate), tau→0
    approaches uniform (small sources oversampled); 0.6-0.8 is the
    published sweet spot. Returns {source: weight} summing to 1.0 —
    feed straight into build_pretrain_corpus / mix_corpora_tokens
    as the per-source weights.

    This is a PLANNING helper, deliberately driver-side: the input is
    the per-source token-count table (sources are 10s, never
    data-sized — a bounded collect under the house ≤P-row rule), and
    p^tau is transcendental, so computing it in one place in Python
    sidesteps the cross-engine pow drift the decayed_agg work
    measured. No oracle row needed — nothing distributed happens
    here."""
    if not 0.0 < tau <= 1.0:
        raise ValueError("tau must be in (0, 1]")
    if isinstance(source_tokens, dict):
        counts = dict(source_tokens)
    else:
        counts = {r[source_col]: int(r[tokens_col])
                  for r in source_tokens.select(source_col,
                                                tokens_col).collect()}
    if not counts:
        raise ValueError("no sources")
    if any(v <= 0 for v in counts.values()):
        raise ValueError("token counts must be positive")
    total = float(sum(counts.values()))
    raw = {s: (v / total) ** tau for s, v in counts.items()}
    z = sum(raw.values())
    return {s: w / z for s, w in raw.items()}


def suggested_epochs(
    weights: "dict[str, float]",
    source_tokens: "dict[str, int]",
    token_budget: int,
) -> "dict[str, float]":
    """Per-source epoch counts implied by a mixture: epochs_i =
    (budget · w_i) / n_tokens_i — the number every data table in a
    pretraining paper reports, and the overfitting guardrail (a small
    high-weight source quietly repeating 40x is a bug caught HERE,
    not after the loss curves). Pure arithmetic on the bounded
    planning dicts."""
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    missing = set(weights) ^ set(source_tokens)
    if missing:
        raise ValueError(f"weights/source_tokens key mismatch: "
                         f"{sorted(missing)}")
    return {s: round(token_budget * w / source_tokens[s], 4)
            for s, w in weights.items()}
