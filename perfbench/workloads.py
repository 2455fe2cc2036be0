"""The benchmark's workloads.

``query``: a closed loop with one client. Set-up builds the index cold with
``plans.build_index.build_index`` (the defaults of ``jobs/build_index.py``,
PageRank on) and loads it. Each operation is one query from a seeded
stream of mostly distinct queries in the FIXTURES.md §2 kinds, answered by
both library serving calls that ``jobs/run_queries.py`` exposes:
``operators.segments.wand_topk`` and ``operators.query.search_compat``.
Every answer is checked against ``tests/oracle.py``.

``reindex``: writes beside reads. Set-up persists a segment table of the
same texts. Each operation applies one seeded recrawl delta (about 1 % of
the docs removed, changed and added; clustered and scattered in turn) with
``operators.segments.incremental_reindex_from_list``, persists the merged
segments, and runs a fixed query batch over them with the block-max
executor. At the seed commit one delta outlasts the benchmark's window, so
a run times the first delta of its session, as a recrawl job that starts
its own session would see it; a faster rewrite fits more deltas into the
window. Query answers are checked against the DuckDB BM25 oracle, and the
final merged segments, decoded, against a from-scratch tokenization of the
final snapshot.

End-to-end metrics, printed by every untraced run of either workload:
``setup_s`` (session start plus the set-up build; one sample per run, as a
cold build cannot repeat in a run's time), ``op_p50_s`` (median latency of
the closed loop's operations; ``query`` times whole rotations of the query
kinds), ``mean_rss_mb`` (mean RSS of the driver JVM
and its Python workers over the run, sampled from /proc; the peak swings
with how many workers Spark happens to fork, so it is per-layer only) and
``index_bytes_per_input_byte``. The operations' tail, with its percentile
and sample count, goes on the info line: a run holds too few operations
for a tail to be steady.

Both workloads run every phase under a tracer span; a traced run turns the
spans into the per-layer metrics. A layer a workload does not run reads 0.
``trace.overhead_frac`` is the share of the traced spans' wall time that
the tracer itself spent setting job groups and reading the status store.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import median, tail
from sparktrace import summarize

K = 10
SHARD_SPAN = 64  # the incremental-reindex default
N_DELTAS = 12  # more than a run can apply
CHECK_UNTOUCHED = 8  # shards no delta touched, decoded in the final check
# build_index's stages: layer name -> (lineage file prefix, manifest key)
BUILD_STAGES = {
    "ingest": ("documents", "documents_raw"),
    "postings": ("postings", "postings"),
    "lexicon": ("lexicon", "lexicon"),
    "segments": ("segments", "segments"),
    "finalize": ("documents_final", "documents_final"),
}
STAGE_FIELDS = ["run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_skew"]
QUERY_KINDS = ["wand", "phrase", "compat"]
QUERY_FIELDS = ["jobs", "tasks", "job_s", "driver_s", "cpu_s", "input_rows", "shuffle_bytes"]
REINDEX_FIELDS = ["jobs", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order a traced run prints them."""
    names = ["session.start_s"]
    for st in BUILD_STAGES:
        names += [f"build.{st}.wall_s"] + [f"build.{st}.{f}" for f in STAGE_FIELDS]
    names += [
        "build.driver_s", "build.unattributed_s", "build.jobs", "build.postings_rows",
        "build.terms", "build.segment_bytes", "build.skew_ratio", "build.scaling_eff",
    ]
    for k in QUERY_KINDS:
        names += [f"query.{k}.p50_s"] + [f"query.{k}.{f}" for f in QUERY_FIELDS]
    names += ["reindex.seg_a_build_s", "reindex.wall_s"]
    names += [f"reindex.{f}" for f in REINDEX_FIELDS]
    names += [
        "reindex.rows_rewritten_per_delta_doc", "reindex.affected_shard_frac",
        "reindex.segment_bytes_growth", "reindex.query.p50_s",
        "reindex.query.input_rows", "reindex.query.driver_s",
        "driver.peak_rss_mb", "workers.peak_rss_mb", "trace.overhead_frac",
    ]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("jobs", "tasks", "rows", "terms")):
        return "count"
    return "ratio"


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f)
    )


def write_parquet_dir(pdf, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files under ``path``, atomically."""
    if os.path.exists(path):
        return
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step : (i + 1) * step]
        if len(part):
            part.to_parquet(os.path.join(tmp, f"part-{i:03d}.parquet"), index=False)
    os.replace(tmp, path)


def run_window(seconds: float, op, samples: list[float], limit: int, rounds: int = 1) -> None:
    """Closed loop with one client: start ``op`` (which returns its own
    latency) back to back until ``seconds`` have passed, so the last one
    may end after the window. Operations run in whole rounds of ``rounds``,
    and at least one round always runs, so that every run samples each
    position of a round equally often."""
    t0 = time.perf_counter()
    while len(samples) < limit and (
        not samples or len(samples) % rounds or time.perf_counter() - t0 < seconds
    ):
        samples.append(op())


class Workload:
    """Shared plumbing: answer-check accounting, the operation latencies
    and the end-to-end metrics every workload reports."""

    def __init__(self, seed: int, n_docs: int, cache_dir: str, run):
        self.seed = seed
        self.n_docs = n_docs
        self.cache_dir = cache_dir
        self.run = run
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s: list[float] = []
        self.spark = None
        self.tracer = None
        self.corpus_dir = os.path.join(cache_dir, "corpus.parquet")

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def prepare(self) -> None:
        self.corpus = gen.cached(
            self.cache_dir, "corpus", lambda: gen.code_corpus(self.seed, self.n_docs)
        )
        write_parquet_dir(self.corpus, self.corpus_dir, n_files=8)

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    def trace_extra(self, cores: int) -> None:
        pass

    def info(self) -> dict:
        value, p, n = tail(self.op_s)
        return {"op_tail_percentile": p, "op_samples": n, "op_tail_s": value, "op_s": self.op_s}

    def end_to_end(self, setup_s: float, peaks: dict) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (median(self.op_s), "s"),
            "mean_rss_mb": (peaks["mean"], "MB"),
            "index_bytes_per_input_byte": (self.index_ratio(), "ratio"),
        }

    def per_layer(self, session_s: float, peaks: dict) -> dict:
        values = dict.fromkeys(per_layer_names(), 0.0)
        values["session.start_s"] = session_s
        values.update(self.layer_values())
        values["driver.peak_rss_mb"] = peaks["driver"]
        values["workers.peak_rss_mb"] = peaks["workers"]
        traced = sum(s["wall_s"] for s in self.tracer.spans if s["parent"] is None)
        values["trace.overhead_frac"] = self.tracer.overhead_s / traced if traced else 0.0
        return {k: (float(v), unit_of(k)) for k, v in values.items()}


# ====================================================================== query

class QueryWorkload(Workload):
    def prepare(self) -> None:
        super().prepare()
        self.queries = gen.cached(
            self.cache_dir, "queries", lambda: gen.query_stream(self.seed, self.corpus, 400)
        )
        self.index_dir = self.run.dir("index")
        self.answers: list[tuple[str, list, list]] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from searchengine_spark.plans.build_index import build_index, load_index

        with self.tracer.span("build") as s:
            self.build_metrics = build_index(
                self.spark, self.spark.read.parquet(self.corpus_dir), self.index_dir
            )
        self.build_span = s
        with self.tracer.span("load"):
            self.idx = load_index(self.spark, self.index_dir)
            stats = self.idx["documents"].agg(
                F.sum("doc_len").alias("s"), F.count(F.lit(1)).alias("c")
            ).collect()[0]
            self.avgdl = float(stats["s"]) / float(stats["c"]) if stats["c"] else 1.0
        # the serving session of jobs/run_queries.py runs with AQE off
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def ask(self, kind: str, q: str) -> float:
        from searchengine_spark.functions.textproc import query_tokenize
        from searchengine_spark.operators.query import is_phrase_query, search_compat
        from searchengine_spark.operators.segments import wand_topk

        phrase = is_phrase_query(q)
        text = q[1:-1] if phrase else q
        idx = self.idx
        with self.tracer.span("query.phrase" if phrase else "query.wand", kind=kind) as a:
            wand = wand_topk(
                self.spark, idx["segments"], idx["lexicon"], idx["documents"],
                query_tokenize(text), self.avgdl, K, phrase=phrase,
            ).collect()
        with self.tracer.span("query.compat", kind=kind) as b:
            compat = search_compat(
                self.spark, idx["postings"], idx["lexicon"], idx["documents"], q, K
            ).collect()
        self.answers.append((q, wand, compat))
        return a["wall_s"] + b["wall_s"]

    def measure(self, seconds: float) -> None:
        run_window(
            seconds, lambda: self.ask(*self.queries[len(self.op_s)]), self.op_s,
            len(self.queries), rounds=len(gen.QUERY_CYCLE),
        )

    def check(self) -> None:
        from searchengine_spark.operators.ingest import verify_sha256_invariant
        from tests.oracle import OracleIndex

        oracle = OracleIndex(self.corpus)
        self.expect(
            verify_sha256_invariant(self.spark.read.parquet(self.corpus_dir), self.idx["documents"]) == 0,
            "build: sha256 invariant",
        )
        n_docs = self.build_metrics["n_docs"]
        self.expect(n_docs == oracle.n_docs, f"build: {n_docs} docs, oracle {oracle.n_docs}")
        n_post = self.build_metrics["n_postings"]
        want_post = sum(len(p) for p in oracle.postings.values())
        self.expect(n_post == want_post, f"build: {n_post} postings, oracle {want_post}")
        for q, wand, compat in self.answers:
            want = oracle.search_bm25(q, K)
            ok = [r["doc_id"] for r in wand] == [r["doc_id"] for r in want] and all(
                abs(g["score"] - w["score"]) <= 1e-9 for g, w in zip(wand, want)
            )
            self.expect(ok, f"wand_topk {q!r}")
            want = oracle.search_compat(q, K)
            ok = [(r["doc_id"], r["url"], r["snippet"]) for r in compat] == [
                (r["doc_id"], r["url"], r["snippet"]) for r in want
            ] and all(abs(g["score"] - w["score"]) <= 1e-9 for g, w in zip(compat, want))
            self.expect(ok, f"search_compat {q!r}")

    def index_ratio(self) -> float:
        """Bytes of every table the build published over the corpus's
        content bytes."""
        content = sum(len(c.encode()) for c in self.corpus["content"])
        return dir_bytes(self.index_dir) / content

    def trace_extra(self, cores: int) -> None:
        """Scaling pair for ``build.scaling_eff``: the build again at
        ``local[cores]`` and at ``local[1]``, each in a restarted session so
        that neither reuses data cached by an earlier build. Both run with
        the JVM already warm, so the pair compares like with like."""
        from searchengine_spark.plans.build_index import build_index
        from searchengine_spark.session import get_spark

        walls = {}
        for n in (cores, 1):
            self.spark.stop()
            self.spark = get_spark(master=f"local[{n}]", app_name=f"perfbench-scaling-{n}")
            self.tracer.rebind(self.spark)
            with self.tracer.span("scaling_build", cores=n) as s:
                build_index(
                    self.spark, self.spark.read.parquet(self.corpus_dir), self.run.dir(f"index-local{n}")
                )
            walls[n] = s["wall_s"]
        self.scaling_eff = walls[1] / (cores * walls[cores])

    def layer_values(self) -> dict:
        v: dict[str, float] = {}
        b = self.build_span
        m = self.build_metrics
        stage_walls = {}
        for st, (_, key) in BUILD_STAGES.items():
            stage_walls[st] = m[key]["wall_ms"] / 1000.0
            v[f"build.{st}.wall_s"] = stage_walls[st]
        for st, jobs in self.jobs_by_build_stage().items():
            stats = summarize(jobs, b["stages"], stage_walls[st])
            for f in STAGE_FIELDS:
                v[f"build.{st}.{f}"] = stats[f]
        v["build.driver_s"] = b["driver_s"]
        v["build.unattributed_s"] = b["wall_s"] - sum(stage_walls.values())
        v["build.jobs"] = b["n_jobs"]
        v["build.postings_rows"] = m["n_postings"]
        v["build.terms"] = sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(self.index_dir, "lexicon", "*.parquet"))
        )
        v["build.segment_bytes"] = m["segments"]["bytes"]
        v["build.skew_ratio"] = m["lexicon"]["skew_ratio"]
        v["build.scaling_eff"] = self.scaling_eff
        for k in QUERY_KINDS:
            spans = self.tracer.named(f"query.{k}")
            spans = [s for s in spans if s["parent"] is None]
            if not spans:
                continue
            v[f"query.{k}.p50_s"] = median([s["wall_s"] for s in spans])
            for f in QUERY_FIELDS:
                key = {"jobs": "n_jobs", "shuffle_bytes": "shuffle_write_bytes"}.get(f, f)
                v[f"query.{k}.{f}"] = median([s[key] for s in spans])
        return v

    def jobs_by_build_stage(self) -> dict[str, list[dict]]:
        """Attribute the build's Spark jobs to its five stages. ``build_index``
        writes each stage's lineage file right after the stage's timer
        stops, named with the stage and its wall time, so the file's mtime
        and that wall time give the stage's interval."""
        layer = {prefix: st for st, (prefix, _) in BUILD_STAGES.items()}
        intervals = {}
        for path in glob.glob(os.path.join(self.index_dir, "lineage", "*.parquet")):
            prefix, wall_ms = os.path.basename(path).rsplit("-", 2)[:2]
            end = os.path.getmtime(path)
            intervals[layer[prefix]] = (end - int(wall_ms) / 1000.0 - 0.25, end)
        out: dict[str, list[dict]] = {st: [] for st in BUILD_STAGES}
        for job in self.build_span["jobs"]:
            for st, (lo, hi) in intervals.items():
                if job["start"] is not None and lo <= job["start"] <= hi:
                    out[st].append(job)
                    break
        return out


# ==================================================================== reindex

class ReindexWorkload(Workload):
    def prepare(self) -> None:
        super().prepare()
        self._snap = gen.documents(self.corpus)
        self.chain = gen.cached(
            self.cache_dir, "deltas", lambda: gen.delta_chain(self.seed, len(self._snap), N_DELTAS)
        )
        self.batch = gen.cached(self.cache_dir, "reindex_queries", lambda: gen.reindex_queries(self.seed))
        self.snaps = [os.path.join(self.cache_dir, "snap0.parquet")]
        write_parquet_dir(self._snap, self.snaps[0], n_files=8)
        self.seg_dirs: list[str] = []
        self.applied = 0
        self.results: list[tuple[int, list, list, list]] = []
        self.rewrite: list[dict] = []

    def _seg(self, i: int):
        return self.spark.read.parquet(self.seg_dirs[i])

    def setup(self) -> None:
        from searchengine_spark.operators.segments import _segments_from_docs

        with self.tracer.span("reindex.seg_a") as s:
            path = self.run.dir("seg0")
            old = self.spark.read.parquet(self.snaps[0]).select("doc_id", "text")
            _segments_from_docs(old, SHARD_SPAN).write.parquet(path)
            self.seg_dirs.append(path)
        self.seg_a_s = s["wall_s"]

    def next_inputs(self) -> tuple[str, dict]:
        """Snapshot ``i + 1`` after delta ``i``, the delta's changed-doc list,
        and the new snapshot's serving state and expected answers, made
        (and cached) only when a run gets that far."""
        i = len(self.snaps) - 1
        self._snap = gen.apply_delta(self._snap, self.chain[i], self.seed + i + 1)
        path = os.path.join(self.cache_dir, f"snap{i + 1}.parquet")
        write_parquet_dir(self._snap, path, n_files=8)
        self.snaps.append(path)
        delta = os.path.join(self.cache_dir, f"delta{i}.parquet")
        write_parquet_dir(gen.delta_frame(self.chain[i]), delta, n_files=1)
        exp = gen.cached(self.cache_dir, f"expected{i + 1}", lambda: _duck_expected(path, self.batch))
        return delta, exp

    def apply(self) -> float:
        from searchengine_spark.operators.segments import blockmax_topk_micros, incremental_reindex_from_list

        i = self.applied
        spark = self.spark
        delta_path, exp = self.next_inputs()
        old = spark.read.parquet(self.snaps[i]).select("doc_id", "text")
        new = spark.read.parquet(self.snaps[i + 1]).select("doc_id", "text")
        delta = spark.read.parquet(delta_path)
        path = self.run.dir(f"seg{i + 1}")
        with self.tracer.span("reindex.delta", delta=i) as w:
            incremental_reindex_from_list(
                old, new, delta, shard_span=SHARD_SPAN, seg_a=self._seg(i), decode=False
            ).write.parquet(path)
        self.seg_dirs.append(path)
        self.applied += 1
        seg = self._seg(i + 1)
        lex = _lexicon_frame(spark, exp["df"], exp["n_docs"])
        total = w["wall_s"]
        for j, terms in enumerate(self.batch):
            with self.tracer.span("reindex.query", delta=i) as q:
                rows = blockmax_topk_micros(spark, seg, lex, terms, exp["avgdl"], K).collect()
            total += q["wall_s"]
            self.results.append((i + 1, terms, [(r["doc_id"], r["score_micros"]) for r in rows], exp["topk"][j]))
        self.rewrite.append(w)
        return total

    def measure(self, seconds: float) -> None:
        run_window(seconds, self.apply, self.op_s, N_DELTAS)

    def check(self) -> None:
        """Every batch answer against DuckDB's BM25 top-k; then the final
        merged segments, decoded, against DuckDB's tokenization of the final
        snapshot. The decode covers every shard a delta touched, where the
        rewrite happens, and ``CHECK_UNTOUCHED`` other shards picked by the
        seed; decoding all of them would cost more than the run itself."""
        import duckdb
        from pyspark.sql import functions as F

        from searchengine_spark import oracles
        from searchengine_spark.operators.segments import decode_postings

        for snap, terms, got, want in self.results:
            self.expect(got == want, f"blockmax_topk_micros {terms} after delta {snap}")
        touched = {
            i // SHARD_SPAN
            for d in self.chain[: self.applied]
            for i in d["removed"] + d["changed"] + d["added"]
        }
        seg = self._seg(self.applied)
        shards = sorted(r["shard"] for r in seg.select("shard").distinct().collect())
        rest = [x for x in shards if x not in touched]
        rng = np.random.default_rng(self.seed)
        picked = sorted(touched | set(rng.choice(rest, size=min(CHECK_UNTOUCHED, len(rest)), replace=False).tolist()))
        got = (
            decode_postings(seg.filter(F.col("shard").isin(picked))).toPandas()
            .sort_values(["term", "doc_id"]).reset_index(drop=True)
        )
        in_picked = " OR ".join(
            f"(doc_id >= {x * SHARD_SPAN} AND doc_id < {(x + 1) * SHARD_SPAN})" for x in picked
        )
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.snaps[self.applied]}/*.parquet') "
                f"WHERE {in_picked}"
            )
            want = con.execute(oracles.postings_sql() + " ORDER BY term, doc_id").df()
        finally:
            con.close()
        same = len(got) == len(want) and (
            got["term"].tolist() == want["term"].tolist()
            and got["doc_id"].tolist() == want["doc_id"].tolist()
            and got["tf"].astype("int64").tolist() == want["tf"].astype("int64").tolist()
        )
        self.expect(
            same, f"decoded shards {picked} after {self.applied} deltas != rebuild of the snapshot"
        )

    def index_ratio(self) -> float:
        """Bytes of the final merged segments over the final snapshot's text bytes."""
        text = pq.read_table(self.snaps[self.applied], columns=["text"]).column("text").to_pylist()
        return dir_bytes(self.seg_dirs[self.applied]) / sum(len(t.encode()) for t in text)

    def layer_values(self) -> dict:
        v: dict[str, float] = {"reindex.seg_a_build_s": self.seg_a_s}
        ws = self.rewrite
        v["reindex.wall_s"] = median([w["wall_s"] for w in ws])
        for f in REINDEX_FIELDS:
            v[f"reindex.{f}"] = median([w["n_jobs" if f == "jobs" else f] for w in ws])
        qs = [s for s in self.tracer.named("reindex.query") if s["parent"] is None]
        v["reindex.query.p50_s"] = median([s["wall_s"] for s in qs])
        v["reindex.query.input_rows"] = median([s["input_rows"] for s in qs])
        v["reindex.query.driver_s"] = median([s["driver_s"] for s in qs])
        v.update(self.counts)
        return v

    def trace_extra(self, cores: int) -> None:
        """Rows the measured deltas rewrote per delta doc, the share of
        existing shards they touched, and the segment bytes' growth."""
        rewritten = delta_docs = 0
        fracs = []
        for w in self.rewrite:
            i = w["delta"]
            d = self.chain[i]
            before, after = self._seg(i), self._seg(i + 1)
            rewritten += after.exceptAll(before).count()
            n = len(d["removed"]) + len(d["changed"]) + len(d["added"])
            delta_docs += n
            n_shards = before.select("shard").distinct().count()
            touched = {x // SHARD_SPAN for x in d["removed"] + d["changed"]}
            fracs.append(len(touched) / n_shards)
        self.counts = {
            "reindex.rows_rewritten_per_delta_doc": rewritten / delta_docs if delta_docs else 0.0,
            "reindex.affected_shard_frac": median(fracs) if fracs else 0.0,
            "reindex.segment_bytes_growth": dir_bytes(self.seg_dirs[self.applied]) / dir_bytes(self.seg_dirs[0]),
        }


def _lexicon_frame(spark, df: dict[str, int], n_docs: int):
    """``(term, idf_bm25)`` rows for the batch's terms, with the program's
    own idf expression."""
    from searchengine_spark.operators.ir import idf_bm25_expr

    return spark.createDataFrame(sorted(df.items()), "term string, df long").select(
        "term", idf_bm25_expr(n_docs).alias("idf_bm25")
    )


def _duck_expected(snapshot: str, batch: list[list[str]]) -> dict:
    """A snapshot's n_docs, avgdl and df of the batch's terms, and the
    DuckDB BM25 top-k of each query as ``(doc_id, score_micros)`` lists."""
    import duckdb

    from searchengine_spark import oracles

    terms = ", ".join(f"('{t}')" for t in sorted({t for q in batch for t in q}))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{snapshot}/*.parquet')")
        n_docs, sum_dl = con.execute(
            f"WITH {oracles._TOKENS_CTE} SELECT count(*), sum(dl) FROM dls"
        ).fetchone()
        df = dict(
            con.execute(
                f"WITH {oracles._TOKENS_CTE} SELECT term, count(DISTINCT doc_id) FROM post "
                f"WHERE term IN (SELECT term FROM (VALUES {terms}) AS q(term)) GROUP BY term"
            ).fetchall()
        )
        topk = [
            [(int(d), int(s)) for d, s in con.execute(oracles.bm25_topk_sql(q, K)).fetchall()]
            for q in batch
        ]
    finally:
        con.close()
    return {"n_docs": int(n_docs), "avgdl": float(sum_dl) / float(n_docs), "df": df, "topk": topk}


WORKLOADS = {"query": QueryWorkload, "reindex": ReindexWorkload}
