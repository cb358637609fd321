"""One benchmark run in a fresh process: build, set up and serve one corpus.

Started by ``run.py``, which owns the private directory ``--tmp`` and the
process group. Phases, each on a corpus generated from ``--seed``:

1. build (timed, wall and CPU): ``IndexBuilder.build`` then
   ``build_positions``, then ``validate()`` (untimed); the dictionary, doc
   count and token total are checked against counts made from the
   generated text;
2. set-up: open an ``IndexReader`` and ``load_hot`` it, once untimed, then
   ``SETUP_REPEATS`` times timed (median CPU seconds); the last reader
   stays hot;
3. warm-up (untimed): ``WARM_BATCHES`` batches of the timed size, which
   hold every query shape (the first large batches in a JVM cost more);
   traced runs first make one call of every single-query kind;
4. closed loop: untraced runs time batched ``search()`` calls until
   ``--seconds`` has passed; traced runs run ``TRACED_ROUNDS`` rounds of
   single ``search``, ``search_local``, ``search(mode="intersect")`` and
   ``phrase`` calls, interleaved query by query, and one batch, so that
   every single-query kind meets every query shape. Every result is
   compared afterwards with the independent reference (reference.py).

Throughput and set-up are counted in CPU seconds of the whole process
tree (``_tree_cpu_s``): steal on this kind of shared host stretches wall
time far more than the work; wall-clock figures go to the extra line.

With ``--trace 1`` every call is a span with its own Spark job group, the
Spark event log is written into the private directory, per-layer metrics
are derived from both (spans.py), and a write-path phase follows the loop
(``write_path``): one streamed ingest epoch, one ``DedupIndex`` wave, the
batch dedup operators and the embedding near-duplicate join on a small
seeded input.

``attempted`` counts the build, every call of the loop and, in traced runs,
every call of the write-path phase; ``failed`` counts those that raised and
the ``DedupIndex`` re-crawl wave while it writes duplicate labels.

Writes ``result.json`` into ``--tmp``; run.py prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import corpus  # noqa: E402
import reference  # noqa: E402
from spans import Tracer, covered, exchanges, intervals  # noqa: E402

K = 10
BATCH = 256
WARM_BATCHES = 1
SETUP_REPEATS = 6
TRACED_ROUNDS = 4
PAGE_FILES = 8  # pages arrive as several files, as a crawl does
DEDUP_N, DEDUP_THRESHOLD = 3, 0.8
NEARDUP_THRESHOLD, LSH_PLANES, LSH_TABLES = 0.4, 4, 16
KINDS = ("search", "local", "intersect", "phrase")
END_TO_END_UNITS = {
    "setup_s": "s",
    "build_docs_per_cpu_s": "docs/cpu_s",
    "index_bytes_per_text_byte": "ratio",
    "search_queries_per_cpu_s": "queries/cpu_s",
}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[bench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _topk_rows(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(int(r["qid"]), []).append((int(r["doc_id"]), float(r["score"])))
    return out


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the JVM,
    PySpark's worker daemon and its Python workers (each with the CPU of
    the children it reaped). Time the hypervisor steals from the host's
    vCPUs is not in it."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # ppid, utime + stime + cutime + cstime
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return size, files


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.tmp = args.tmp
        self.failures: list[str] = []  # wrong results
        self.errors: list[str] = []  # failed operations
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[str, float, float]] = []  # timed calls that returned: (kind, wall s, CPU s)
        self.metrics: dict[str, float] = {}
        self.extra: dict = {}
        self.layer: dict[str, float] = {}

    # -- phases ----------------------------------------------------------
    def start(self) -> None:
        """Start the session on a helper thread: the JVM boots in its own
        process while this thread generates the inputs (make_inputs)."""
        import threading

        conf = {
            "spark.local.dir": os.path.join(self.tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if self.args.trace else "false",
        }
        if self.args.trace:
            os.makedirs(os.path.join(self.tmp, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.dir": "file://" + os.path.join(self.tmp, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )

        def boot() -> None:
            t0 = time.perf_counter()
            try:
                from colbert_jl_spark.session import get_spark

                self.spark = get_spark(f"bench-{self.args.workload}", extra_conf=conf)
                self.spark.sparkContext.setLogLevel("ERROR")
            except BaseException as e:  # re-raised on the main thread by wait_session
                self.boot_error = e
            self.layer["session.start_s"] = time.perf_counter() - t0

        self.spark, self.boot_error = None, None
        self._boot = threading.Thread(target=boot, name="session-start")
        self._boot.start()

    def wait_session(self) -> None:
        self._boot.join()
        if self.boot_error is not None:
            raise self.boot_error
        self.tracer = Tracer(self.spark.sparkContext, bool(self.args.trace))

    def make_inputs(self) -> None:
        texts = corpus.make_texts(self.args.workload, self.args.seed)
        self.ref = reference.Corpus(np.arange(len(texts)), texts)
        self.pages_dir = os.path.join(self.tmp, "pages")
        os.makedirs(self.pages_dir)
        pages = corpus.pages_frame(texts)
        for i, part in enumerate(np.array_split(np.arange(len(pages)), PAGE_FILES)):
            pages.iloc[part].to_parquet(os.path.join(self.pages_dir, f"part-{i}.parquet"), index=False)
        self.queries = corpus.QueryStream(self.ref, self.args.seed, self.args.workload)

    def attempt(self, name: str, fn):
        """Run one counted operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # the run goes on; the failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e).strip().splitlines()[0][:300]}")
            return False, None

    def build(self) -> None:
        from pyspark.sql import functions as F

        from colbert_jl_spark.plans.build import IndexBuilder, IndexReader

        docs = self.spark.read.parquet(self.pages_dir).select(
            F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("doc_id"), "text"
        )
        self.index = os.path.join(self.tmp, "index")
        builder = IndexBuilder(self.index)
        self.attempted += 1  # a build that raises ends the run: nothing after it can run
        with self.tracer.span("build"):
            c0, t0 = _tree_cpu_s(), time.time()
            with self.tracer.span("build.build"):
                builder.build(docs)
            t1 = time.time()
            with self.tracer.span("build.positions"):
                builder.build_positions(docs)
            t2, c2 = time.time(), _tree_cpu_s()
        self.metrics["build_docs_per_cpu_s"] = self.ref.n_docs / (c2 - c0)
        self.extra["build_docs_per_s"] = self.ref.n_docs / (t2 - t0)
        self.build_times = (t0, t1, t2)
        with self.tracer.span("build.validate"):
            tv = time.perf_counter()
            report = IndexReader(self.spark, self.index).validate()
            self.layer["build.validate_s"] = time.perf_counter() - tv
        if not report["ok"]:
            self.failures.append(f"validate() not ok: {report}")
        plan = builder.plan()
        if (plan["n_docs"], plan["total_tokens"]) != (self.ref.n_docs, self.ref.total_tokens):
            self.failures.append(
                f"plan n_docs/total_tokens {plan['n_docs']}/{plan['total_tokens']} "
                f"!= reference {self.ref.n_docs}/{self.ref.total_tokens}"
            )
        dic = {
            r["term"]: (int(r["df"]), int(r["cf"]))
            for r in IndexReader(self.spark, self.index).dictionary.select("term", "df", "cf").collect()
        }
        want = self.ref.dictionary()
        if dic != want:
            diff = sorted(set(dic.items()) ^ set(want.items()))[:5]
            self.failures.append(f"dictionary differs from reference ({len(dic)} vs {len(want)} terms): {diff}")
        size, _ = _dir_bytes(self.index)
        self.metrics["index_bytes_per_text_byte"] = size / self.ref.text_bytes

    def setup(self) -> None:
        """One untimed ``load_hot`` (first-use costs of the JVM), then
        ``SETUP_REPEATS`` timed ones; each reader but the last is released."""
        from colbert_jl_spark.plans.build import IndexReader

        times, cpu = [], []
        for i in range(SETUP_REPEATS + 1):
            if i:
                self.reader.release()
            with self.tracer.span("reader.load_hot"):
                c0, t0 = _tree_cpu_s(), time.perf_counter()
                self.reader = IndexReader(self.spark, self.index).load_hot()
                if i:
                    times.append(time.perf_counter() - t0)
                    cpu.append(_tree_cpu_s() - c0)
        self.metrics["setup_s"] = statistics.median(cpu)
        self.extra["setup_wall_s"] = statistics.median(times)
        self.extra["setup_cpu_s_each"] = [round(c, 2) for c in cpu]
        self.layer["reader.load_hot_s"] = self.extra["setup_wall_s"]

    def _op(self, kind: str, text, record: bool) -> None:
        r = self.reader
        calls = {
            "search": lambda: r.search([(0, text)], K).collect(),
            "local": lambda: r.search_local([(0, text)], K).collect(),
            "intersect": lambda: r.search([(0, text)], K, mode="intersect").collect(),
            "phrase": lambda: r.phrase([(0, text)]).collect(),
            "batch": lambda: r.search(list(enumerate(text)), K).collect(),
        }
        with self.tracer.span(f"op.{kind}"):
            c0, t0 = _tree_cpu_s(), time.perf_counter()
            if record:
                ok, rows = self.attempt(kind, calls[kind])
            else:
                ok, rows = True, calls[kind]()
            dt, cpu = time.perf_counter() - t0, _tree_cpu_s() - c0
        if ok:
            self.checks.append((kind, text, rows))
            if record:
                self.ops.append((kind, dt, cpu))

    def _shape(self, r: int, j: int) -> str:
        """Kind j of round r takes shape (r + j + seed) mod 4: four rounds
        give every kind every shape, and the seed moves where a run starts."""
        shapes = self.queries.SHAPES
        return shapes[(r + j + self.args.seed) % len(shapes)]

    def _singles(self, r: int, record: bool) -> None:
        """One query of each single-query kind, interleaved (traced runs)."""
        q = self.queries
        for j, kind in enumerate(KINDS):
            text = q.phrase(2 + (r + self.args.seed) % 2) if kind == "phrase" else q.query(self._shape(r, j))
            self._op(kind, text, record)

    def serve(self) -> None:
        """Untraced: ``WARM_BATCHES`` untimed batches, then timed batches
        until ``--seconds`` has passed. Traced: a warm-up of every kind,
        then ``TRACED_ROUNDS`` rounds of single calls and one batch."""
        self.checks: list[tuple] = []
        q = self.queries
        trace = self.args.trace
        if trace:
            self._singles(0, False)
        for _ in range(WARM_BATCHES):  # every batch holds every query shape
            self._op("batch", q.batch(BATCH), False)
        self.loop_spans, self.loop_checks = len(self.tracer.spans), len(self.checks)
        t0 = time.perf_counter()
        rounds = 0
        while True:
            if trace:
                self._singles(rounds, True)
            self._op("batch", q.batch(BATCH), True)
            rounds += 1
            if rounds >= TRACED_ROUNDS if trace else time.perf_counter() - t0 >= self.args.seconds:
                break
        batch = [(dt, cpu) for kind, dt, cpu in self.ops if kind == "batch"]
        self.metrics["search_queries_per_cpu_s"] = BATCH / statistics.median(cpu for _, cpu in batch)
        self.extra.update(
            search_qps=BATCH / statistics.median(dt for dt, _ in batch),
            batch_cpu_s_each=[round(cpu, 2) for _, cpu in batch],
            loop_s=round(time.perf_counter() - t0, 3),
        )
        if trace:
            lat = {k: [dt for kind, dt, _ in self.ops if kind == k] for k in KINDS}
            self.extra.update({f"{k}_p50_ms": round(1000 * statistics.median(lat[k]), 3) for k in KINDS})

    def check(self) -> None:
        ref = self.ref
        for kind, text, rows in self.checks:
            if kind == "phrase":
                got = {int(r["doc_id"]): int(r["n_occurrences"]) for r in rows}
                if got != ref.phrase_counts(text):
                    self.failures.append(f"phrase {text!r}: {sorted(got.items())[:5]}")
                continue
            texts = text if kind == "batch" else [text]
            got = _topk_rows(rows)
            for qid, q in enumerate(texts):
                want = ref.topk(q, K, conjunctive=kind == "intersect")
                if not reference.same_topk(got.get(qid, []), want):
                    self.failures.append(f"{kind} {q!r}: got {got.get(qid, [])[:3]} want {want[:3]}")

    # -- write path (traced runs) ------------------------------------------
    def write_path(self) -> None:
        """One pass over the ingest, dedup and similarity entry points on
        ``corpus.WriteInputs``: stream the pages into a new index, compact
        it, query it with an unpinned reader; one ``DedupIndex`` wave that
        re-crawls a url; ``ngram_jaccard_pairs`` and ``dedup_clusters``;
        ``embedding_neardup_pairs``. Each call is a counted operation and
        its result is checked against reference.py."""
        import pandas as pd

        from colbert_jl_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
        from colbert_jl_spark.operators.similarity import embedding_neardup_pairs
        from colbert_jl_spark.plans.build import IndexReader
        from colbert_jl_spark.streaming.dedup_state import DedupIndex
        from colbert_jl_spark.streaming.ingest import compact_streamed_index, stream_pages_to_postings

        w = corpus.WriteInputs(self.args.seed)
        tr, sp, L = self.tracer, self.spark, self.layer
        d = os.path.join(self.tmp, "write")
        stream_in, index = os.path.join(d, "stream_in"), os.path.join(d, "index")
        os.makedirs(stream_in)
        corpus.pages_frame(w.texts).to_parquet(os.path.join(stream_in, "epoch-0.parquet"), index=False)
        docs_path = os.path.join(d, "docs.parquet")
        pd.DataFrame({"doc_id": np.arange(len(w.texts)), "text": w.texts}).to_parquet(docs_path, index=False)
        emb_path = os.path.join(d, "embeddings.parquet")
        pd.DataFrame({"vec_id": np.arange(len(w.vectors)), "embedding": list(w.vectors)}).to_parquet(
            emb_path, index=False
        )

        def timed(span: str, metric: str, fn, after: bool = True):
            """A counted, timed call; ``after`` False (an earlier call it
            needs failed) counts it as failed without running it."""
            if not after:
                self.attempted += 1
                self.failed += 1
                self.errors.append(f"{span}: not run, an earlier call failed")
                return False, None
            with tr.span(span):
                t0 = time.perf_counter()
                ok, out = self.attempt(span, fn)
                L[metric] = time.perf_counter() - t0
            return ok, out

        # streaming.ingest: one epoch, its compaction, the first query after it
        ok = timed(
            "ingest.stream", "ingest.stream_s",
            lambda: stream_pages_to_postings(sp, stream_in, index, os.path.join(d, "checkpoint")),
        )[0]
        ok, report = timed("ingest.compact", "ingest.compact_s", lambda: compact_streamed_index(sp, index), ok)
        if ok:
            # the first compaction of an index builds it whole and reports its plan
            L["ingest.postings_read"] = report.get("postings_read", report.get("total_postings"))
            L["ingest.bytes_written"] = _dir_bytes(index)[0]
        reader = IndexReader(sp, index) if ok else None
        query = f"{corpus.MARKER} w1 w7"
        ok, rows = timed(
            "ingest.first_query", "ingest.first_query_s",
            lambda: reader.refresh().search([(0, query)], K).collect(), ok,
        )
        if ok:
            got = _topk_rows(rows).get(0, [])
            want = reference.Corpus(np.arange(len(w.texts)), w.texts).topk(query, K)
            if not got or got[0][0] != w.marker_doc or not reference.same_topk(got, want):
                self.failures.append(f"ingest query {query!r}: got {got[:3]} want {want[:3]}")
            report = reader.validate()
            L["ingest.files_per_bucket_max"] = report["blocks_files_per_bucket_max"]
            if not report["ok"]:
                self.failures.append(f"ingest validate() not ok: {report}")

        # streaming.dedup_state: a wave in which one url is crawled twice
        state = DedupIndex(os.path.join(d, "dedup_state"), DEDUP_N, DEDUP_THRESHOLD)
        wave = sp.createDataFrame(
            [(i, w.texts[i]) for i in (0, 1, 2, 1)], "doc_id long, text string"
        )
        with tr.span("dedup_state.update"):
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                state.update(sp, wave)
                outcome = "committed"
            except ValueError as e:  # a refusal of the wave
                outcome = f"refused ({e})"
            except Exception as e:
                outcome = f"raised {type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
            L["dedup_state.wave_s"] = time.perf_counter() - t0
        labels = [int(r["doc_id"]) for r in state.labels(sp).collect()]
        # passes once labels hold one row per doc id, or once the wave is refused before commit
        if not (outcome == "committed" and sorted(labels) == [0, 1, 2] or outcome.startswith("refused") and not labels):
            self.failed += 1
            self.errors.append(
                f"DedupIndex.update of a wave with a re-crawled url: {outcome}, "
                f"{len(labels)} label rows for {len(set(labels))} doc ids"
            )

        # operators.dedup
        docs = sp.read.parquet(docs_path)
        want_pairs = reference.jaccard_pairs(dict(enumerate(w.texts)), DEDUP_THRESHOLD, DEDUP_N)
        ok, rows = timed(
            "dedup.ngram_pairs", "dedup.ngram_pairs_s",
            lambda: ngram_jaccard_pairs(docs, DEDUP_N, DEDUP_THRESHOLD).collect(),
        )
        if ok:
            got = {(int(r["doc_a"]), int(r["doc_b"])): float(r["jaccard"]) for r in rows}
            if got != want_pairs:
                self.failures.append(f"ngram_jaccard_pairs: {sorted(set(got.items()) ^ set(want_pairs.items()))[:5]}")
        ok, rows = timed(
            "dedup.clusters", "dedup.clusters_s", lambda: dedup_clusters(docs, DEDUP_N, DEDUP_THRESHOLD).collect()
        )
        if ok:
            got = {int(r["doc_id"]): int(r["component_id"]) for r in rows}
            want = reference.components(range(len(w.texts)), want_pairs)
            if got != want:
                self.failures.append(f"dedup_clusters: {sorted(set(got.items()) ^ set(want.items()))[:5]}")

        # operators.similarity
        emb = sp.read.parquet(emb_path)
        ok, rows = timed(
            "similarity.neardup", "similarity.neardup_s",
            lambda: embedding_neardup_pairs(emb, NEARDUP_THRESHOLD, corpus.EMB_DIM, LSH_PLANES, LSH_TABLES).collect(),
        )
        if ok:
            got = {(int(r["vec_a"]), int(r["vec_b"])): float(r["cosine"]) for r in rows}
            bad = [
                (p, c) for p, c in got.items()
                if abs(c - reference.round6(reference.cosine(w.vectors[p[0]], w.vectors[p[1]]))) > 2e-6
                or c < NEARDUP_THRESHOLD
            ]
            missing = [p for p in w.planted if p not in got]
            if bad or missing:
                self.failures.append(f"embedding_neardup_pairs: wrong cosine {bad[:3]}, planted pairs missing {missing[:3]}")

    # -- per-layer (traced runs) -------------------------------------------
    def decode_rate(self) -> None:
        """``functions.codec.decode_block`` over the stored blocks of the
        timed search queries' terms (fetched untimed from the hot reader)."""
        from pyspark.sql import functions as F

        from colbert_jl_spark.functions.codec import decode_block

        ts = sorted({t for kind, text, _ in self.checks if kind == "search" for t in reference.terms(text, None)})
        payloads = [bytes(r["payload"]) for r in self.reader.blocks.where(F.col("term").isin(ts)).select("payload").collect()]
        t0 = time.perf_counter()
        decoded = sum(decode_block(p)[0].size for p in payloads)
        self.layer["codec.decode_postings_per_s"] = decoded / (time.perf_counter() - t0)
        self.layer["build.encoder_groups"] = self.reader.blocks.select("term", "bucket").distinct().count()
        for part in ("blocks", "dictionary", "positions", "postings"):
            self.layer[f"index.{part}_bytes"] = sum(
                _dir_bytes(os.path.join(self.index, d))[0]
                for d in os.listdir(self.index)
                if d == part or d.startswith(part + ".v")
            )
        self.layer["index.files"] = _dir_bytes(self.index)[1]

    def credit_trace(self) -> None:
        tr, L = self.tracer, self.layer
        tr.credit(os.path.join(self.tmp, "eventlog"))
        stages = json.load(open(os.path.join(self.index, "_STAGES.json")))
        t0, t1, t2 = self.build_times
        L["build.postings_s"] = stages["postings"]["completed_at"] - t0
        L["build.plan_s"] = covered(tr.jobs_writing("/docstats.tmp"))
        L["build.dictionary_s"] = covered(tr.jobs_writing("/dictionary.tmp"))
        L["build.blocks_s"] = stages["blocks"]["completed_at"] - stages["dictionary"]["completed_at"]
        L["build.lineage_s"] = stages["lineage"]["completed_at"] - stages["blocks"]["completed_at"]
        L["build.positions_s"] = t2 - t1
        build = [s for s in tr.spans if s["name"] in ("build.build", "build.positions")]
        L["build.jobs"] = sum(len(s["jobs"]) for s in build)
        L["build.task_cpu_s"] = sum(s["cpu_ms"] for s in build) / 1000
        L["build.shuffle_bytes"] = sum(s["shuffle_write"] for s in build)
        L["build.spill_bytes"] = sum(s["spill"] for s in build)
        timed = [s for s in tr.spans[self.loop_spans :] if s["name"].startswith("op.")]
        for k in KINDS:
            L[f"reader.jobs_per_{k}"] = statistics.median(len(s["jobs"]) for s in timed if s["name"] == f"op.{k}")
        searches = [s for s in timed if s["name"] == "op.search"]
        index_dir = os.path.join(self.index, "")
        L["reader.dictionary_lookup_ms"] = statistics.median(
            1000 * covered(intervals(s["jobs"], index_dir + "dictionary")) for s in searches
        )
        L["reader.block_fetch_ms"] = statistics.median(
            1000 * covered(intervals(s["jobs"], index_dir + "blocks")) for s in searches
        )
        L["reader.block_rows_per_query"] = statistics.median(tr.rows_out(s, "InMemoryTableScan") for s in searches)
        L["reader.postings_per_query"] = statistics.median(
            sum(self.ref.df(t) for t in set(reference.terms(text, None)))
            for kind, text, _ in self.checks[self.loop_checks :] if kind == "search"
        )
        L["reader.search_task_cpu_ms"] = statistics.median(s["cpu_ms"] for s in searches)
        L["reader.search_outside_jobs_ms"] = statistics.median(
            1000 * ((s["end"] - s["start"]) - covered(intervals(s["jobs"]))) for s in searches
        )
        L["reader.batch_shuffle_bytes"] = statistics.median(s["shuffle_write"] for s in timed if s["name"] == "op.batch")
        by_name = {s["name"]: s for s in tr.spans}
        L["ingest.jobs_per_search"] = len(by_name["ingest.first_query"]["jobs"])
        for span, metric in (("dedup.clusters", "dedup.clusters_exchanges"), ("similarity.neardup", "similarity.neardup_exchanges")):
            plans = {j["sql"]: j["plan"] for j in by_name[span]["jobs"] if j["sql"] is not None}
            L[metric] = sum(exchanges(p) for p in plans.values())

    def result(self) -> dict:
        units, values = (LAYER_METRICS, self.layer) if self.args.trace else (END_TO_END_UNITS, self.metrics)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
        }


LAYER_METRICS = {
    "session.start_s": "s",
    "build.postings_s": "s",
    "build.plan_s": "s",
    "build.dictionary_s": "s",
    "build.blocks_s": "s",
    "build.lineage_s": "s",
    "build.positions_s": "s",
    "build.validate_s": "s",
    "build.jobs": "count",
    "build.encoder_groups": "count",
    "build.task_cpu_s": "s",
    "build.shuffle_bytes": "bytes",
    "build.spill_bytes": "bytes",
    "index.blocks_bytes": "bytes",
    "index.dictionary_bytes": "bytes",
    "index.positions_bytes": "bytes",
    "index.postings_bytes": "bytes",
    "index.files": "count",
    "reader.load_hot_s": "s",
    "reader.jobs_per_search": "count",
    "reader.jobs_per_local": "count",
    "reader.jobs_per_intersect": "count",
    "reader.jobs_per_phrase": "count",
    "reader.dictionary_lookup_ms": "ms",
    "reader.block_fetch_ms": "ms",
    "reader.block_rows_per_query": "count",
    "reader.postings_per_query": "count",
    "codec.decode_postings_per_s": "postings/s",
    "reader.search_task_cpu_ms": "ms",
    "reader.search_outside_jobs_ms": "ms",
    "reader.batch_shuffle_bytes": "bytes",
    "ingest.stream_s": "s",
    "ingest.compact_s": "s",
    "ingest.first_query_s": "s",
    "ingest.postings_read": "count",
    "ingest.bytes_written": "bytes",
    "ingest.jobs_per_search": "count",
    "ingest.files_per_bucket_max": "count",
    "dedup_state.wave_s": "s",
    "dedup.ngram_pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.clusters_exchanges": "count",
    "similarity.neardup_s": "s",
    "similarity.neardup_exchanges": "count",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(corpus.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    args = ap.parse_args()

    reference.self_test()
    run = Run(args)
    _log("session and inputs")
    run.start()
    try:
        run.make_inputs()
        run.wait_session()
        _log("build")
        run.build()
        _log("setup")
        run.setup()
        _log("serve")
        run.serve()
        if args.trace:
            run.decode_rate()
            _log("write path")
            run.write_path()
    finally:
        run._boot.join()
        if run.spark is not None:
            run.spark.stop()
    _log("check")
    run.check()
    if args.trace:
        run.credit_trace()
    _log("done")
    out = run.result()
    extra = {"workload": args.workload, "seed": args.seed, **run.extra}
    if args.trace:
        extra["end_to_end_traced"] = {n: round(v, 4) for n, v in run.metrics.items()}
        extra["spans"] = len(run.tracer.spans)
        print(json.dumps({"spans": run.tracer.dump()}), file=sys.stderr)
    if run.errors:
        extra["errors"] = run.errors[:20]
    if run.failures:
        extra["failures"] = run.failures[:20]
    with open(os.path.join(args.tmp, "result.json"), "w") as f:
        json.dump({"result": out, "extra": extra}, f)


if __name__ == "__main__":
    main()
