"""The workloads: how each runs the package, checks its outputs,
and is traced and attributed to layers.

Every workload runs a package entry point unchanged:

* ``docs_small``: ``plans.flow.run_flow_to_files`` with
  parquet route sinks over a directory of generated document files.
* ``corpus_pretrain``: ``plans.llm_pretrain.llm_pretrain_plan`` over two
  parquet sources, an embeddings sidecar and a benchmark slice.

The traced pass and the attribution pass wrap public functions from
outside (see ``trace.patched``); the plans they run are the same.
"""

from __future__ import annotations

import importlib
import json
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

from . import gen, meters
from .trace import Tracer, patched

PKG = "nifi_extracttext_processor_spark"
FLOW = f"{PKG}.plans.flow"

FLOW_STAGES = ("extract_text", "split_lines", "extract_regex", "nlp",
               "query_routes")
CORPUS_STAGES = ("keep_best_per_cluster", "semantic_dedup",
                 "decontaminate_filter", "train_bpe", "bpe_tokenize",
                 "pack_sequences")
CORPUS_OPS = {  # stage -> module that owns the public function
    "keep_best_per_cluster": f"{PKG}.operators.dedup",
    "semantic_dedup": f"{PKG}.operators.clustering",
    "decontaminate_filter": f"{PKG}.operators.corpus",
    "train_bpe": f"{PKG}.operators.tokenize",
    "bpe_tokenize": f"{PKG}.operators.tokenize",
    "pack_sequences": f"{PKG}.operators.corpus",
}
PHASES = ("clean_source", "build_pretrain_corpus", "tokenize_pack_shard")
FORMATS = (".pdf", ".docx", ".doc", ".xlsx")
ROUTES = ("bad", "good", "neutral")
STAGE_KEYS = ("s", "executor_cpu_s", "pyworker_cpu_s", "shuffle_mb",
              "spill_mb", "tasks", "jobs")
PLAN_KEYS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
             "shuffle_mb")

# llm_pretrain_plan arguments of the corpus workload
CORPUS_ARGS = {"num_shards": 8, "n_merges": 200, "seed": 0}
CORPUS_WEIGHTS = (0.6, 0.4)


class CheckFailed(Exception):
    """An output differs from what the oracle expects."""


def force(df) -> None:
    """Compute every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, data files) under ``path``; Spark's marker files excluded."""
    size, files = 0, 0
    for d, _sub, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size / 1e6, files


def _read_column(path: str, col: str) -> list:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=[col]) \
        .column(col).to_pylist()


def _delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before.get(k, 0) for k in after}


def _measured(sc, group: str, fn):
    """Run ``fn`` with its Spark jobs in job group ``group``, then give
    the caller its group back. Returns (result, wall s, Python-worker
    CPU s)."""
    up = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    py0 = meters.cpu_split(meters.snapshot())["pyworker"]
    t0 = time.perf_counter()
    try:
        r = fn()
    finally:
        wall = time.perf_counter() - t0
        py = meters.cpu_split(meters.snapshot())["pyworker"] - py0
        if up is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(up, up)
    return r, wall, py


def _prefix_stages(spark, store, run_id: str, stages, frames) -> dict:
    """Force each stage's output in order, each in its own job group,
    and attribute to a stage the difference from the previous prefix."""
    out, prev = {}, {}
    for stage in stages:
        group = f"{run_id}/{stage}"
        _r, wall, py = _measured(spark.sparkContext, group,
                                 lambda: [force(df) for df in frames[stage]])
        cum = dict(store.group(group), s=wall, pyworker_cpu_s=py)
        out[stage] = _delta(cum, prev)
        prev = cum
    return out


class Docs:
    """A directory of document files through the whole flow."""

    def __init__(self, name: str, data_dir: str):
        self.name = name
        self.files = os.path.join(data_dir, "files")
        with open(os.path.join(data_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.n_docs = self.n_inputs = self.manifest["files"]
        self._expected = None

    def run(self, spark, out: str) -> dict:
        from nifi_extracttext_processor_spark.plans.flow import (
            run_flow_to_files,
        )
        return run_flow_to_files(spark, self.files, out)

    # ---- oracle and output checks ------------------------------------

    def extract_serial(self) -> dict:
        """``formats.extract_any`` over every file, serially, timed per
        format. Returns the timings and the extracted (name, text) rows."""
        from nifi_extracttext_processor_spark.formats import extract_any

        per_fmt = {f: 0.0 for f in FORMATS}
        texts, errors, nbytes = {}, 0, 0
        for name in sorted(os.listdir(self.files)):
            with open(os.path.join(self.files, name), "rb") as f:
                data = f.read()
            t0 = time.perf_counter()
            text, _mime, err = extract_any(data, name)
            dt = time.perf_counter() - t0
            per_fmt[os.path.splitext(name)[1]] += dt
            nbytes += len(data)
            if err is not None:
                errors += 1
            else:
                texts[name] = text
        return {"per_fmt": per_fmt, "texts": texts, "errors": errors,
                "mb": nbytes / 1e6}

    def expected(self, serial: dict | None = None) -> dict:
        """Per-port counts the flow must produce: failure and needs_ocr
        as planted, route rows recomputed in DuckDB from the serial
        extraction with the package's ``nlp.sentiment_sql`` (the
        ``route_routes`` oracle shape)."""
        if self._expected is not None:
            return self._expected
        import duckdb
        import pyarrow as pa

        from nifi_extracttext_processor_spark.operators.nlp import (
            sentiment_sql,
        )

        serial = serial or self.extract_serial()
        planted = self.manifest["planted"]
        bad = set(os.listdir(self.files)) - set(serial["texts"])
        if bad != set(planted["failure"]):
            raise CheckFailed("serial extraction fails on other files "
                              "than the planted corrupt ones")
        scanned = set(planted["needs_ocr"])
        rows = [(n, t) for n, t in serial["texts"].items()
                if n not in scanned]
        if any(not t.strip() or re.search("[\r\x85\u2028\u2029]", t)
               for _n, t in rows):
            raise CheckFailed("generated document without plain text lines")
        con = duckdb.connect()
        con.register("docs", pa.table({"filename": [r[0] for r in rows],
                                       "text": [r[1] for r in rows]}))
        got = dict(con.execute(f"""
            WITH lines AS (
              SELECT unnest(string_split(
                       regexp_replace(text, '\\n+$', ''), chr(10))) AS line
              FROM docs)
            SELECT {sentiment_sql('line')} AS s, count(*) FROM lines
            WHERE regexp_extract(line, '(^.*$)', 1) <> '' GROUP BY 1
            """).fetchall())
        con.close()
        exp = {r: int(got.get(s, 0)) for r, s in
               zip(ROUTES, ("NEGATIVE", "POSITIVE", "NEUTRAL"))}
        exp["failure"] = len(planted["failure"])
        exp["needs_ocr"] = len(planted["needs_ocr"])
        exp["success_files"] = sorted(n for n, _t in rows)
        self._expected = exp
        return exp

    def check(self, counts: dict, out: str) -> None:
        exp = self.expected()
        planted = self.manifest["planted"]
        ports = {p: _read_column(os.path.join(out, p), "filename")
                 for p in ROUTES + ("failure", "needs_ocr")}
        for port in ROUTES + ("failure", "needs_ocr"):
            if counts.get(port) != exp[port] or len(ports[port]) != exp[port]:
                raise CheckFailed(
                    f"{port}: returned {counts.get(port)}, wrote "
                    f"{len(ports[port])}, expected {exp[port]}")
        success = set().union(*(ports[r] for r in ROUTES))
        failure, ocr = set(ports["failure"]), set(ports["needs_ocr"])
        if failure != set(planted["failure"]) or \
                ocr != set(planted["needs_ocr"]):
            raise CheckFailed("failure / needs_ocr files differ from planted")
        if sorted(success) != exp["success_files"] or success & failure \
                or success & ocr or failure & ocr:
            raise CheckFailed("a file is on no port or on more than one")

    # ---- traced pass and attribution ---------------------------------

    def traced(self, spark, out: str, tracer: Tracer) -> dict:
        """One run with a span around every public call the flow makes."""
        from nifi_extracttext_processor_spark.operators import batch
        from nifi_extracttext_processor_spark.plans import flow

        # every public function document_flow calls, by the layer it is in
        layer = {"read_documents": "sources", "document_flow": "plans.flow"}
        calls = ("read_documents", "media_metadata", "extract_text",
                 "flag_needs_ocr", "route_needs_ocr", "route_by_error",
                 "split_lines", "extract_regex", "filter_matched", "entities",
                 "sentiment", "set_attrs", "attrs_to_json",
                 "infer_json_schema", "query_routes", "document_flow")
        targets = {f"{FLOW}:{fn}": tracer.wrap(
            f"{layer.get(fn, 'operators')}.{fn}", getattr(flow, fn))
            for fn in calls}
        targets[f"{PKG}.operators.batch:write_files"] = tracer.wrap(
            "sinks.write_files", batch.write_files)
        with patched(targets):
            with tracer.span("plans.flow.run_flow_to_files"):
                counts = flow.run_flow_to_files(spark, self.files, out)
        self.check(counts, out)
        return counts

    def attribute(self, spark, store, run_id: str, out: str) -> dict:
        """Stage metrics from successive prefixes of one document_flow."""
        from nifi_extracttext_processor_spark.plans import flow

        frames: dict[str, list] = {}

        def grab(stage, fn, pick):
            def w(*a, **kw):
                r = fn(*a, **kw)
                frames[stage] = pick(r)
                return r
            return w

        one = lambda r: [r]  # noqa: E731
        targets = {
            f"{FLOW}:read_documents": grab("sources", flow.read_documents, one),
            f"{FLOW}:route_by_error": grab("extract_text", flow.route_by_error,
                                          lambda r: [r[0]]),
            f"{FLOW}:split_lines": grab("split_lines", flow.split_lines, one),
            f"{FLOW}:filter_matched": grab("extract_regex",
                                           flow.filter_matched, one),
            f"{FLOW}:sentiment": grab("nlp", flow.sentiment, one),
            f"{FLOW}:query_routes": grab("query_routes", flow.query_routes,
                                         lambda r: list(r.values())),
        }
        with patched(targets):
            flow.document_flow(spark, self.files)
        return _prefix_stages(spark, store, run_id,
                              ("sources",) + FLOW_STAGES, frames)


class Corpus:
    """Two salted sources through the composed pretraining plan."""

    def __init__(self, name: str, data_dir: str):
        self.name = name
        self.dir = data_dir
        import pyarrow.parquet as pq

        with open(os.path.join(data_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.rows = {t: pq.read_metadata(self._p(t)).num_rows
                     for t in ("source_a", "source_b", "embeddings",
                               "benchmark")}
        self.n_docs = self.rows["source_a"] + self.rows["source_b"]
        self.n_inputs = sum(self.rows.values())

    def _p(self, table: str) -> str:
        return os.path.join(self.dir, f"{table}.parquet")

    def inputs(self, spark):
        read = lambda t: spark.read.parquet(self._p(t))  # noqa: E731
        sources = [(read(t).select("doc_id", "text"), w) for t, w in
                   zip(("source_a", "source_b"), CORPUS_WEIGHTS)]
        return sources, read("embeddings"), read("benchmark")

    def run(self, spark, out: str) -> dict:
        from nifi_extracttext_processor_spark.plans.llm_pretrain import (
            llm_pretrain_plan,
        )
        sources, emb, bench = self.inputs(spark)
        manifest, merges = llm_pretrain_plan(
            sources, out, benchmark=bench, embeddings=emb, **CORPUS_ARGS)
        return {"manifest": [r.asDict() for r in manifest.collect()],
                "merges": merges}

    def check(self, result: dict, out: str) -> None:
        """Shard doc ids are unique; the cleaning dropped what the
        generator planted (no benchmark document, and of each planted
        near-duplicate or semantic-duplicate pair at most one document,
        in either source); and the manifest's token total equals the
        written token counts and a serial re-tokenization of the written
        text with the returned merges."""
        import pyarrow.dataset as ds

        from nifi_extracttext_processor_spark.operators.tokenize import (
            _PRETOKEN, bpe_encode_word,
        )

        t = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "text", "n_bpe_real"])
        ids = t.column("doc_id").to_pylist()
        if len(set(ids)) != len(ids):
            raise CheckFailed("duplicate doc_id across shards")
        self._check_cleaned(set(ids))
        man = result["manifest"]
        if sum(r["n_docs"] for r in man) != len(ids) or not ids:
            raise CheckFailed("manifest doc count differs from shards")
        written = sum(t.column("n_bpe_real").to_pylist())
        ranks = {tuple(p): i for i, p in enumerate(result["merges"])}
        cache: dict[str, int] = {}
        retok = 0
        for text in t.column("text").to_pylist():
            for w in _PRETOKEN.findall(text or ""):
                if w not in cache:
                    cache[w] = len(bpe_encode_word(w, ranks))
                retok += cache[w]
        total = sum(r["n_tokens"] for r in man)
        if not total == written == retok:
            raise CheckFailed(f"tokens: manifest {total}, written {written},"
                              f" re-tokenized {retok}")

    def _check_cleaned(self, ids: set) -> None:
        leaked = sorted(i for i in ids
                        if i < gen.REPLICA_OFFSET and i % gen.BENCH_MOD == 0)
        if leaked:
            raise CheckFailed(f"benchmark documents in the shards: {leaked}")
        for kind in ("near_dups", "semantic_dups"):
            for a, b in self.manifest[kind]:
                for off in (0, gen.REPLICA_OFFSET):
                    if a + off in ids and b + off in ids:
                        raise CheckFailed(f"{kind}: both {a + off} and "
                                          f"{b + off} in the shards")
        if len(ids) > self.n_docs - self.rows["benchmark"]:
            raise CheckFailed(f"{len(ids)} documents in the shards, more "
                              f"than the inputs less the benchmark slice")

    # ---- traced pass and attribution ---------------------------------

    def _compose(self, spark, out: str, call, workers: int = 3):
        """``llm_pretrain_plan``'s composition, phase by phase in the plan's
        order, each phase run through ``call(phase, thunk)``. Each cleaned
        source is persisted and counted inside its phase, and the corpus
        is left lazy for ``tokenize_pack_shard`` to persist, as the plan
        does. ``workers=1`` runs the plan's concurrent start one task at
        a time."""
        from nifi_extracttext_processor_spark.operators.corpus import (
            benchmark_ngrams,
        )
        from nifi_extracttext_processor_spark.operators.lifecycle import (
            track_persist,
        )
        from nifi_extracttext_processor_spark.plans import llm_pretrain as lp

        sources, emb, bench = self.inputs(spark)
        bng = track_persist(benchmark_ngrams(bench, "text", 8))

        def clean(df):
            def thunk():
                c = lp.clean_source(df, embeddings=emb, benchmark=bench,
                                    benchmark_ngram_table=bng)
                p = track_persist(c.select("doc_id", "text"))
                p.count()
                return p
            return call("clean_source", thunk)

        # the plan's overlap: the benchmark n-gram table materializes on
        # its own thread next to the per-source cleans
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futs = [ex.submit(call, "benchmark_ngrams", bng.count)]
            futs += [ex.submit(clean, df) for df, _w in sources]
            cleaned = [f.result() for f in futs][1:]

        corpus = call("build_pretrain_corpus",
                      lambda: lp.build_pretrain_corpus(
                          list(zip(cleaned, CORPUS_WEIGHTS)),
                          seed=CORPUS_ARGS["seed"]))

        def shard():
            manifest, merges = lp.tokenize_pack_shard(
                corpus, out, num_shards=CORPUS_ARGS["num_shards"],
                n_merges=CORPUS_ARGS["n_merges"], seed=CORPUS_ARGS["seed"])
            return {"manifest": [r.asDict() for r in manifest.collect()],
                    "merges": merges}
        return call("tokenize_pack_shard", shard)

    def traced(self, spark, out: str, tracer: Tracer) -> dict:
        from nifi_extracttext_processor_spark.operators import corpus as c

        targets = {f"{mod}:{op}": tracer.wrap(
            f"operators.{op}", getattr(importlib.import_module(mod), op))
            for op, mod in CORPUS_OPS.items()}
        targets[f"{PKG}.operators.corpus:write_corpus_shards"] = tracer.wrap(
            "sinks.write_corpus_shards", c.write_corpus_shards)
        with patched(targets), \
                tracer.span("plans.llm_pretrain.llm_pretrain_plan") as root:
            def call(phase, thunk):
                with tracer.span(f"plans.llm_pretrain.{phase}",
                                 parent=root.id):
                    return thunk()
            result = self._compose(spark, out, call)
        self.check(result, out)
        return result

    def attribute(self, spark, store, run_id: str, out: str) -> dict:
        """Per-operator metrics: each operator call forces its input, then
        runs and forces its output, and is charged the difference; calls
        of one operator (one per source) add up."""
        stats: dict[str, dict] = {}
        sc = spark.sparkContext

        def forcing(stage, fn):
            def w(df, *a, **kw):
                _r, w_in, py_in = _measured(sc, f"{run_id}/{stage}.in",
                                            lambda: force(df))

                def body():
                    r = fn(df, *a, **kw)
                    if hasattr(r, "write"):     # a DataFrame: compute it
                        force(r)
                    return r
                r, w_out, py_out = _measured(sc, f"{run_id}/{stage}", body)
                acc = stats.setdefault(stage, {"s": 0.0, "py": 0.0})
                acc["s"] += w_out - w_in
                acc["py"] += py_out - py_in
                return r
            return w

        targets = {f"{mod}:{op}": forcing(
            op, getattr(importlib.import_module(mod), op))
            for op, mod in CORPUS_OPS.items()}
        sources, emb, bench = self.inputs(spark)
        result = {"sources": _prefix_stages(
            spark, store, run_id, ("sources",),
            {"sources": [df for df, _w in sources] + [emb, bench]})["sources"]}
        # one task at a time, so no two operator calls overlap
        with patched(targets):
            self._compose(spark, out, lambda _phase, thunk: thunk(), workers=1)
        for stage in CORPUS_STAGES:
            acc = stats.get(stage, {"s": 0.0, "py": 0.0})
            m = _delta(store.group(f"{run_id}/{stage}"),
                       store.group(f"{run_id}/{stage}.in"))
            m.update(s=acc["s"], pyworker_cpu_s=acc["py"])
            result[stage] = m
        return result
