"""The benchmark's two workloads, ``batch`` and ``stream``.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare()`` writes the seeded inputs (untimed, excluded from set-up);
- ``touch(spark)`` opens the inputs through the program's loaders (timed
  as part of set-up);
- ``measure(spark, tracer)`` runs the first execution of every operation,
  then repeats them until ``seconds`` have passed, and at least
  ``min_repeats`` times;
- ``check(spark)`` verifies the outputs (untimed) and returns the number
  of failed checks;
- ``layers(tracer)`` turns the traced run's spans and job groups into
  per-layer metrics.

Every workload reports every end-to-end metric; DESIGN.md states what each
one means for each workload.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback

import gen


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    name.  Below 21 samples that percentile would not exceed the median;
    the upper quartile is given instead (the maximum of so few samples
    moves with every scheduling hiccup)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return (statistics.quantiles(xs, n=4)[2] if n > 1 else xs[0]), f"p75 of {n}"
    return xs[n - 11], f"p{100 * (n - 10) // n} of {n}"


class Workload:
    name = ""
    min_repeats = 1

    def __init__(self, work: str, seed: int, seconds: float, toy: bool):
        self.work, self.seed, self.seconds, self.toy = work, seed, seconds, toy
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}

    def _attempt(self, fn, *args):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - an operation failure is a result
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def _repeat_until(self, start: float, rounds: list) -> bool:
        return (len(rounds) < self.min_repeats
                or time.perf_counter() - start < self.seconds)


# ---------------------------------------------------------------- batch

# The query mix: one or more queries from each group of the reference mix.
BATCH_MIX = {
    "dashboard": ["project_processed", "groupby_subreddit",
                  "histogram_risk_buckets", "topk_recent"],
    "scan_join": ["q1_pricing_summary", "q3_shipping_priority",
                  "join_asof_events"],
    "memo": ["dedup_setsim_prefix"],
    "builder_heavy": ["ml_platt_scaling"],
    "other": ["sketch_hll_portable"],
}
BATCH_SCALE = 0.005       # 7,500 orders, 30,000 lineitems, 250 documents
CURATE_DOCS = 600
CURATE = "curate_corpus"  # the one memo-free operation of each pass
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Batch(Workload):
    """Registered queries over the seeded tables plus one corpus curation
    over a seeded corpus.  Each query is built, then its rows collected;
    the rows are checked against the DuckDB oracle after the run."""

    name = "batch"
    # A query's repeat time is its fastest of three repeats: sub-second
    # queries vary by a fifth from one execution to the next.  Curation
    # (half of a pass) repeats once, in the first repeat pass.
    min_repeats = 3

    def prepare(self) -> None:
        import __spark_entry__
        from mental_health_bigdata_project_spark.plans import QUERIES
        from mental_health_bigdata_project_spark.sources import tables

        self.sf_dir = os.path.join(self.work, "tables")
        self.rows = gen.write_tables(self.sf_dir, self.seed,
                                     0.0005 if self.toy else BATCH_SCALE)
        self.corpus_dir = os.path.join(self.work, "corpus_in")
        self.n_docs = 150 if self.toy else CURATE_DOCS
        gen.write_curate_corpus(self.corpus_dir, self.seed, self.n_docs)
        # The program memoizes per session only inputs it knows to be
        # read-only (its test-data root).  The generated tables are never
        # rewritten during a run, so they join that root and the
        # memo-eligible queries behave as on the project's own data.  The
        # curation corpus stays outside it: curation gets no memo.
        tables._MEMO_ROOTS += (self.sf_dir,)
        if not tables._memoizable(self.sf_dir) or tables._memoizable(self.corpus_dir):
            raise RuntimeError("the program's memo roots did not take the "
                               "benchmark tables (and only them)")
        self.qids = [q for group in BATCH_MIX.values() for q in group]
        # A fixed order: a query's first execution is cheaper after one
        # that compiled the same operators, so a seeded order would move
        # first_s by up to a fifth between seeds.
        self.order = self.qids + [CURATE]
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.module = {q: QUERIES[q].__module__.rsplit(".", 1)[-1]
                       for q in self.qids}

    def touch(self, spark) -> None:
        from mental_health_bigdata_project_spark.sources import load_table
        for t in TABLES:
            load_table(spark, self.sf_dir, t)
        load_table(spark, self.corpus_dir, "documents")

    def _query(self, spark, tracer, qid: str, p: int):
        with tracer.span(f"batch|{qid}|{p}|build") as b:
            df = self.queries[qid](spark, self.sf_dir)
        with tracer.span(f"batch|{qid}|{p}|action") as a:
            rows = df.collect()
        return (b.seconds, a.seconds), (df.columns, [tuple(r) for r in rows])

    def _curate(self, spark, tracer, p: int):
        from mental_health_bigdata_project_spark.operators.curation import curate_corpus
        out_dir = os.path.join(self.work, f"curated_{p}")
        with tracer.span(f"batch|{CURATE}|{p}|action") as a:
            report = curate_corpus(spark, self.corpus_dir, out_dir,
                                   span_dedup=True, exact_near_dedup=True)
            rows = [tuple(r) for r in report.collect()]
        return (0.0, a.seconds), rows

    def measure(self, spark, tracer) -> dict:
        self.passes: list[dict] = []   # pass -> op -> (build_s, action_s)
        self.results: list[dict] = []  # pass -> op -> output
        self.pass_spans: list[float] = []
        start = None
        while not self.passes or self._repeat_until(start, self.passes[1:]):
            if len(self.passes) == 1:
                start = time.perf_counter()
            p = len(self.passes)
            times, results = {}, {}
            with tracer.span(f"batch|{p}") as s:
                for op in (self.order if p <= 1 else self.qids):
                    r = (self._attempt(self._curate, spark, tracer, p) if op == CURATE
                         else self._attempt(self._query, spark, tracer, op, p))
                    if r is not None:
                        times[op], results[op] = r
            self.pass_spans.append(s.seconds)
            self.passes.append(times)
            self.results.append(results)
        # Each operation's repeat time is its fastest repeat (host stalls
        # only add time).
        self.best = {op: min((t[op] for t in self.passes[1:] if op in t), key=sum)
                     for op in self.order
                     if any(op in t for t in self.passes[1:])}
        repeat_s = sum(b + a for b, a in self.best.values())
        # a query's result is what a dashboard user waits for; curation
        # is an offline job, so it stays out of the latency samples
        lat = [b + a for op, (b, a) in self.best.items() if op != CURATE]
        tl, tl_name = tail(lat)
        in_rows = sum(self.rows.values()) + self.n_docs
        self.detail.update(
            passes=len(self.passes), visible_tail=tl_name,
            pass_walls=[sum(b + a for b, a in t.values()) for t in self.passes],
            visible_samples=len(lat), input_rows=dict(self.rows, corpus=self.n_docs),
            order=self.order,
            first_by_op={q: round(b + a, 4) for q, (b, a) in self.passes[0].items()},
            repeat_by_op={q: round(b + a, 4) for q, (b, a) in self.best.items()})
        return {"first_s": sum(b + a for b, a in self.passes[0].values()),
                "repeat_s": repeat_s,
                "rows_per_s": in_rows / repeat_s if repeat_s else 0.0,
                "visible_p50_s": median(lat), "visible_tail_s": tl}

    def check(self, spark) -> int:
        """Every pass's rows of every query against the query's DuckDB
        oracle (row count and order-insensitive value hash); the curation
        checks.  Returns the number of failed operations."""
        import duckdb
        from scripts.check_oracles import hash_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf_dir}/{t}.parquet'")
        bad = []
        for qid in self.qids:
            res = con.execute(self.oracles[qid])
            d_cols = sorted(d[0] for d in res.description)
            d_rows = res.fetchall()
            want = (d_cols, len(d_rows),
                    hash_rows([d[0] for d in res.description], d_rows))
            for p, results in enumerate(self.results):
                if qid not in results:
                    continue   # already counted as a failed operation
                cols, rows = results[qid]
                if (sorted(cols), len(rows), hash_rows(cols, rows)) != want:
                    bad.append(f"{qid} pass {p}: differs from its oracle")
        con.close()
        bad += self._check_curation(spark)
        self.detail["check_failed"] = bad
        return len(bad)

    def _check_curation(self, spark) -> list[str]:
        """The attrition report starts at the corpus size, never grows,
        ends at the written row count, and is identical on every pass;
        the written corpus is identical between the first and last pass."""
        from scripts.check_oracles import hash_rows
        reports = [r[CURATE] for r in self.results if CURATE in r]
        if not reports:
            return []
        bad = []
        rep = reports[0]
        if any(r != rep for r in reports):
            bad.append("curation report differs between passes")
        docs = [n for _, n in rep]
        if docs[0] != self.n_docs or docs != sorted(docs, reverse=True):
            bad.append(f"curation attrition is not monotone from the input: {rep}")
        last = max(p for p, r in enumerate(self.results) if CURATE in r)
        hashes = []
        for p in sorted({0, last}):
            d = os.path.join(self.work, f"curated_{p}", "corpus")
            df = spark.read.parquet(d)
            rows = [tuple(r) for r in df.collect()]
            if len(rows) != docs[-1]:
                bad.append(f"pass {p}: {len(rows)} curated rows written, "
                           f"report says {docs[-1]}")
            hashes.append(hash_rows(df.columns, rows))
        if len(set(hashes)) > 1:
            bad.append("curated corpus differs between passes")
        self.detail["curation_report"] = rep
        self.detail["curated_hash"] = hashes[0]
        self.curated_last = os.path.join(self.work, f"curated_{last}", "corpus")
        return bad

    def layers(self, tracer) -> dict:
        """Per-layer split of first_s and repeat_s: the repeat numbers use
        the same fastest repeat of each operation as repeat_s, so the
        layers add up to it."""
        first, best = self.passes[0], self.best
        rep_ids = range(1, len(self.passes))
        qids = [q for q in self.order if q != CURATE]

        def jobs(op, p, kind):
            return len(tracer.job_ids(f"batch|{op}|{p}|{kind}"))

        def rep_mean(f):      # mean over repeat passes
            return sum(f(p) for p in rep_ids) / max(1, len(rep_ids))

        def q_sum(t, i, ops=qids):
            return sum(t[q][i] for q in ops if q in t)

        out = {
            "plans.build_first_s": q_sum(first, 0),
            "plans.action_first_s": q_sum(first, 1),
            "plans.build_repeat_s": q_sum(best, 0),
            "plans.action_repeat_s": q_sum(best, 1),
            "plans.build_jobs_first": sum(jobs(q, 0, "build") for q in qids),
            "plans.build_jobs_repeat": rep_mean(lambda p: sum(jobs(q, p, "build") for q in qids)),
            "plans.jobs_first": sum(jobs(q, 0, "action") for q in qids),
            "plans.jobs_repeat": rep_mean(lambda p: sum(jobs(q, p, "action") for q in qids)),
            "curation.first_s": q_sum(first, 1, [CURATE]),
            "curation.repeat_s": q_sum(best, 1, [CURATE]),
            "curation.jobs": jobs(CURATE, 1, "action"),
        }
        hits, saved, codegen = 0, 0.0, 0.0
        for q in qids:
            if q not in first or q not in best:
                continue
            if jobs(q, 0, "build") >= 1 and all(jobs(q, p, "build") == 0 for p in rep_ids):
                hits += 1
                saved += first[q][0] - best[q][0]
            else:
                codegen += first[q][1] - best[q][1]
        out["artifacts.memo_hits"] = hits
        out["artifacts.memo_saved_s"] = saved
        out["plans.codegen_s"] = codegen
        for m in set(self.module.values()):
            out[f"plans.{m}.repeat_s"] = sum(
                b + a for q, (b, a) in best.items() if self.module.get(q) == m)
        # the share of a pass's wall that no build, action or curation
        # span covers (the worst pass)
        walls = [sum(b + a for b, a in t.values()) for t in self.passes]
        out["plans.unattributed_share"] = max(
            1 - w / s for w, s in zip(walls, self.pass_spans))
        report = self.detail.get("curation_report") or [("input", 1), ("", 0)]
        out["curation.kept_ratio"] = report[-1][1] / report[0][1]
        out["curation.output_mb"] = _dir_mb(getattr(self, "curated_last", ""))
        groups = [f"batch|{op}|{p}|{kind}" for p in range(len(self.passes))
                  for op in self.order for kind in ("build", "action")]
        out.update(tracer.group_totals(groups))
        self.detail["memo_hit_share"] = hits / len(qids)
        return out


def _dir_mb(path: str) -> float:
    total = 0
    for dp, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, n)) for n in names)
    return total / 1e6


def _count_parquet_files(path: str) -> int:
    return sum(n.endswith(".parquet") for _, _, names in os.walk(path) for n in names)


# --------------------------------------------------------------- stream

# The backlog is STREAM_POLLS polls of the reference collector, one file
# each.  Every topology takes one file per micro-batch: 75 posts, the
# most the reference's pipeline sees in one trigger.  The next
# micro-batch starts when the previous one commits (closed loop).
STREAM_POLLS = 3
LATEST_N = 100


class Stream(Workload):
    name = "stream"
    # two repeat rounds, so the dashboard-state topology gives six
    # visibility samples
    min_repeats = 2

    def prepare(self) -> None:
        self.posts = gen.make_posts(self.seed, 2 if self.toy else STREAM_POLLS)
        self.backlog = os.path.join(self.work, "backlog")
        self.n_files = gen.write_post_backlog(self.backlog, self.posts)

    def touch(self, spark) -> None:
        from mental_health_bigdata_project_spark.sources.json_posts import read_posts_json
        read_posts_json(spark, self.backlog)

    def _source(self, spark, path: str):
        from mental_health_bigdata_project_spark.schemas import POST_SCHEMA
        return (spark.readStream.schema(POST_SCHEMA)
                .option("maxFilesPerTrigger", 1).json(path))

    def _drain(self, query) -> list[dict]:
        """Wait for an availableNow query to finish; return the progress
        of its micro-batches that read rows."""
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        progress = [json.loads(p.json) for p in query.recentProgress]
        self.query_runs.append((str(query.runId), len(progress)))
        return [p for p in progress if p["numInputRows"] > 0]

    def _round(self, spark, tracer, r: int) -> dict:
        from pyspark.sql import functions as F
        from mental_health_bigdata_project_spark.streaming.pipeline import (
            enriched_stream, run_to_parquet)
        from mental_health_bigdata_project_spark.streaming.serving import (
            maintain_stats, serve_stats)
        from mental_health_bigdata_project_spark.streaming.setsimdedup import (
            compact_setsim_index, run_incremental_setsim_dedup)

        d = os.path.join(self.work, f"round_{r}")
        out = {}
        first_query = len(self.query_runs)
        walls = out["walls"] = {}
        with tracer.span(f"stream|{r}|sink") as s:
            q = run_to_parquet(enriched_stream(self._source(spark, self.backlog)),
                               f"{d}/sink", f"{d}/ck_sink", latest_n=LATEST_N)
            out["sink"] = self._drain(q)
        walls["sink"] = s.seconds
        with tracer.span(f"stream|{r}|stats") as s:
            q = maintain_stats(enriched_stream(self._source(spark, self.backlog)),
                               f"{d}/state", f"{d}/ck_stats")
            out["stats"] = self._drain(q)
        walls["stats"] = s.seconds
        with tracer.span(f"stream|{r}|serve") as s:
            out["payload"] = serve_stats(spark, f"{d}/state")
        out["serve_s"] = s.seconds
        # set-similarity dedup in two phases with a compaction between
        # them, so the index crosses a compaction boundary
        src = os.path.join(d, "setsim_src")
        os.makedirs(src)
        files = sorted(os.listdir(self.backlog))
        half = len(files) // 2
        docs = lambda: (self._source(spark, src).select(
            F.col("id").cast("long").alias("doc_id"), "text"))
        out["setsim"] = []
        for phase, names in enumerate((files[:half], files[half:])):
            for n in names:
                shutil.copy2(os.path.join(self.backlog, n), src)
            if phase == 1:
                through = out["setsim"][-1]["batchId"]
                out["index_files_before"] = _count_parquet_files(f"{d}/index")
                with tracer.span(f"stream|{r}|compact") as c:
                    compact_setsim_index(spark, f"{d}/index", through)
                out["compact_s"] = c.seconds
                out["index_files_after"] = _count_parquet_files(f"{d}/index")
            with tracer.span(f"stream|{r}|setsim{phase}") as s:
                q = run_incremental_setsim_dedup(docs(), f"{d}/setsim",
                                                 f"{d}/ck_setsim", f"{d}/index")
                out["setsim"] += self._drain(q)
            walls[f"setsim{phase}"] = s.seconds
        out["run_ids"] = [run_id for run_id, _ in self.query_runs[first_query:]]
        return out

    def measure(self, spark, tracer) -> dict:
        self.rounds: list[dict] = []
        self.query_runs: list[tuple[str, int]] = []   # (runId, progress events)
        self.listener = _progress_listener(spark) if tracer.enabled else None
        walls: list[float] = []
        start = None
        while not walls or self._repeat_until(start, walls[1:]):
            if len(walls) == 1:
                start = time.perf_counter()
            r = len(walls)
            if r >= 2:   # keep round 0 and the latest for the checks
                shutil.rmtree(os.path.join(self.work, f"round_{r - 1}"),
                              ignore_errors=True)
            with tracer.span(f"stream|{r}") as s:
                res = self._attempt(self._round, spark, tracer, r)
            walls.append(s.seconds)
            self.rounds.append(res)
        self.walls = walls
        self.last = len(walls) - 1
        vis = [p["durationMs"]["triggerExecution"] / 1e3
               for res in self.rounds[1:] if res for p in res["stats"]]
        tl, tl_name = tail(vis)
        n = len(self.posts)
        self.detail.update(rounds=len(walls), round_walls=walls,
                           visible_tail=tl_name, visible_samples=len(vis),
                           posts=n, files=self.n_files,
                           topology_walls=[r["walls"] if r else None for r in self.rounds],
                           batch_ms=[{k: [p["durationMs"]["triggerExecution"] for p in r[k]]
                                      for k in ("sink", "stats", "setsim")} if r else None
                                     for r in self.rounds])
        repeat_s = median(walls[1:])
        return {"first_s": walls[0], "repeat_s": repeat_s,
                "rows_per_s": n / repeat_s if repeat_s else 0.0,
                "visible_p50_s": median(vis), "visible_tail_s": tl}

    def _expected_payload(self, spark) -> dict:
        """The dashboard payload recomputed as one batch job over the
        same JSON lines: enrich_posts + a group-by."""
        from pyspark.sql import functions as F
        from mental_health_bigdata_project_spark.functions.text import (
            HIGH_RISK_THRESHOLD, risk_bucket)
        from mental_health_bigdata_project_spark.pipeline import enrich_posts
        from mental_health_bigdata_project_spark.sources.json_posts import read_posts_json

        df = enrich_posts(read_posts_json(spark, self.backlog))
        buckets = ["0-10", "10-20", "20-30", "30+"]
        rows = df.groupBy("subreddit").agg(
            F.count("*").alias("n"), F.sum("risk_score").alias("s"),
            F.sum((F.col("risk_score") >= HIGH_RISK_THRESHOLD).cast("int")).alias("h"),
            *[F.sum((risk_bucket("risk_score") == b).cast("int")).alias(f"b{i}")
              for i, b in enumerate(buckets)]).collect()
        total = sum(r.n for r in rows)
        return {
            "total_posts": total,
            "avg_risk_score": round(sum(r.s for r in rows) / total, 2),
            "high_risk_count": sum(r.h for r in rows),
            "by_subreddit": {r.subreddit: {"count": r.n, "total_risk": r.s,
                                           "avg_risk": round(r.s / r.n, 2)}
                             for r in rows},
            "risk_distribution": {b: sum(r[f"b{i}"] for r in rows)
                                  for i, b in enumerate(buckets)},
        }

    def check(self, spark) -> int:
        bad = []
        expected = self._expected_payload(spark)
        ids = sorted(p["id"] for p in self.posts)
        newest = sorted(self.posts, key=lambda p: (p["created_utc"], p["id"]),
                        reverse=True)[:LATEST_N]
        accepted = []
        for r in (0, self.last):
            res = self.rounds[r]
            if res is None:
                bad.append(f"round {r} failed")
                continue
            d = os.path.join(self.work, f"round_{r}")
            if res["payload"] != expected:
                bad.append(f"round {r}: serve_stats payload != batch recompute")
            sink = sorted(x.id for x in spark.read.parquet(f"{d}/sink/all").select("id").collect())
            if sink != ids:
                bad.append(f"round {r}: sink holds {len(sink)} of {len(ids)} posts")
            latest = {x.id for x in spark.read.parquet(f"{d}/sink/latest").select("id").collect()}
            if latest != {p["id"] for p in newest}:
                bad.append(f"round {r}: latest is not the {LATEST_N} newest posts")
            accepted.append(sorted(x.doc_id for x in spark.read.parquet(
                f"{d}/setsim").select("doc_id").collect()))
        if len(accepted) == 2 and accepted[0] != accepted[1]:
            bad.append("setsim accepted set differs between rounds")
        if accepted and not 0 < len(accepted[-1]) <= len(ids):
            bad.append(f"setsim accepted {len(accepted[-1])} of {len(ids)}")
        self.accepted = len(accepted[-1]) if accepted else 0
        self.detail["check_failed"] = bad
        return len(bad)

    def layers(self, tracer) -> dict:
        rounds = [r for r in self.rounds[1:] if r] or [r for r in self.rounds if r]
        durations = lambda key: [p["durationMs"]["triggerExecution"] / 1e3
                                 for r in rounds for p in r[key]]
        setsim = [p["durationMs"]["triggerExecution"] / 1e3 for p in rounds[-1]["setsim"]]
        q = max(1, len(setsim) // 4)
        growth = median(setsim[-q:]) / median(setsim[:q]) if setsim else 0.0

        # streaming phases from the listener's progress events: the sum
        # over one repeat round's micro-batches, median over rounds
        events = self.listener.wait_for(sum(n for _, n in self.query_runs))
        round_of = {}
        for i, r in enumerate(self.rounds):
            for run_id in (r or {}).get("run_ids", []):
                round_of[run_id] = i
        timed = [i for i, r in enumerate(self.rounds)
                 if r and (i > 0 or len(self.rounds) == 1)]

        def phase_sum(*keys):
            per_round = {i: 0.0 for i in timed}
            for e in events:
                i = round_of.get(e["runId"])
                if i in per_round:
                    per_round[i] += sum(e["durationMs"].get(k, 0) for k in keys) / 1e3
            return median(list(per_round.values()))

        # Spark runs each streaming query's jobs under its runId job group
        groups = ([f"stream|{i}|{t}" for i in range(len(self.rounds))
                   for t in ("serve", "compact")]
                  + [run_id for run_id, _ in self.query_runs])
        out = tracer.group_totals(groups)
        out.update({
            "streaming.sink.batch_p50_s": median(durations("sink")),
            "streaming.stats.batch_p50_s": median(durations("stats")),
            "streaming.serve_s": median([r["serve_s"] for r in rounds]),
            "streaming.setsim.batch_p50_s": median(durations("setsim")),
            "streaming.setsim.batch_growth": growth,
            "streaming.setsim.compact_s": median([r["compact_s"] for r in rounds]),
            "streaming.setsim.accept_ratio": self.accepted / len(self.posts),
            "streaming.setsim.index_files_before": rounds[-1]["index_files_before"],
            "streaming.setsim.index_files_after": rounds[-1]["index_files_after"],
            "streaming.plan_s": phase_sum("queryPlanning"),
            "streaming.get_batch_s": phase_sum("getBatch"),
            "streaming.commit_s": phase_sum("walCommit", "commitOffsets"),
        })
        return out


def _progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    in memory (as the dict of its JSON form)."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._cond = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._cond:
                self.events.append(json.loads(event.progress.json))
                self._cond.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout: float = 60.0) -> list[dict]:
            """The events once ``n`` have arrived (the listener bus
            delivers them asynchronously)."""
            with self._cond:
                self._cond.wait_for(lambda: len(self.events) >= n, timeout)
                return list(self.events)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


WORKLOADS = {w.name: w for w in (Batch, Stream)}
