"""The benchmark's workloads. Each is a closed loop with one client: the next
public call starts when the previous one has returned.

A workload is a class with
  setup(ctx)     inputs and expected values; the expected values are
                 computed once per run and are not timed;
  min_calls      the fewest timed calls a run makes;
  op(ctx)        one timed public call; returns a dict with `items` (work
                 done), `counts` (exact counts that must repeat for a
                 seed) and optionally `attempted`, `failures` and `check`
                 (an untimed output check that raises on a mismatch);
  layer(ctx, ..) per-layer metrics of a traced run.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import spans as tr

# -- frontier_epoch ----------------------------------------------------------
# 500k candidate URLs (30% on one hot host, 1000 hosts) against a seen set
# that holds half of them, both stored co-bucketed on url_hash with 32
# buckets. One epoch is ~2.5 s on 4 cores, so a run holds several.
FRONTIER_URLS = 500_000
FRONTIER_HOSTS = 1000
FRONTIER_BUCKETS = 32
HOST_BUDGET = 2
N_SALT = 32

# -- crawl_bfs -----------------------------------------------------------------
# A BFS crawl is bound by its fixed per-epoch cost (~30 Spark jobs), not by
# pages, so the crawl is sized to two epochs (one wave of pages and the
# epoch that closes the depth-1 frontier).
CRAWL_DOCS = 4000
CRAWL_HOSTS = 50
CRAWL_SEEDS = 100
CRAWL_MAX_DEPTH = 1
CRAWL_MAX_PAGES = 1000
CRAWL_BLOOM_BITS = 1 << 21

# -- link_queries --------------------------------------------------------------
# Every query is bound by per-job cost at this size, so the pass is kept to
# ~3 s: one query per family of the query layer whose SQL twin reads only
# the input tables. The iterative graph queries (pagerank_hosts,
# link_networks: ~5 s each) and the MinHash UDF query (~2 s warm, ~10 s
# cold) do not fit a run. sessionization is left out because it disagrees
# with its SQL twin when a gap between two events is within a second of the
# 1800 s session timeout (Spark's unix_timestamp truncates to whole seconds,
# DuckDB's epoch() keeps the fraction); some seeds produce such a gap.
QUERY_SF = 0.01
WARM_PASSES = 2
QUERIES = (
    "tpch_q1",         # queries: grouped aggregate
    "enrich_join",     # queries: four-way join
    "topk_per_group",  # queries: window function
    "text_profile",    # operators.textops
    "dedup_exact",     # operators.dedup
)

CRAWL_STEPS = (
    "rank_wave", "fetch_join_seen_write", "extract_edges_write", "rank_candidates",
    "sequential_admission", "frontier_write", "metrics", "bloom_insert",
    "seen_append", "commit_next_wave_count", "end", "unlabelled", "other",
)


def _mb(b: float) -> float:
    return b / (1 << 20)


def _stage_sums(jobs: list[dict]) -> dict[str, float]:
    keys = ("cpu_s", "run_s", "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b", "tasks")
    out = {k: 0.0 for k in keys}
    for j in jobs:
        for st in j["stages"]:
            for k in keys:
                out[k] += st[k]
    return out


def exchange_metrics(jobs: list[dict]) -> dict[str, float]:
    s = _stage_sums(jobs)
    return {
        "shuffle.write_mb": _mb(s["shuffle_write_b"]),
        "shuffle.read_mb": _mb(s["shuffle_read_b"]),
        "spill.disk_mb": _mb(s["spill_b"]),
        "gc_s": s["gc_s"],
        "jvm.task_cpu_s": s["cpu_s"],
    }


class FrontierEpoch:
    name = "frontier_epoch"
    # shuffle partitions = bucket count, so the co-bucketed anti-join needs
    # no exchange (the state-table contract)
    shuffle_partitions = FRONTIER_BUCKETS
    min_calls = 3

    def expected_values(self, seed: int, work: str) -> dict:
        """Write the raw frontier and seen set, then compute the expected
        wave in DuckDB: the plain single-window row_number top-k that
        per_host_topk claims to equal. Pure Python and DuckDB, so it runs
        beside session start."""
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.monotonic()
        rng = np.random.default_rng(seed)
        n = FRONTIER_URLS
        hot = rng.random(n) < 0.3
        host_idx = np.where(hot, 0, rng.integers(1, FRONTIER_HOSTS, n))
        hosts = np.array([f"h{h:04d}.test" for h in range(FRONTIER_HOSTS)], dtype=object)[host_idx]
        urls = [f"http://{h}/p/{i}" for i, h in enumerate(hosts)]
        url_hash = [hashlib.sha256(u.encode()).digest() for u in urls]
        frontier = pa.table({
            "url": urls,
            "url_hash": pa.array(url_hash, pa.binary()),
            "host": hosts.tolist(),
            "priority": pa.array(rng.integers(1, 5, n), pa.int32()),
            "arrival_seq": pa.array(np.arange(n), pa.int64()),
        })
        # the seen set holds every even arrival: half the frontier
        seen = pa.table({"url_hash": pa.array(url_hash[::2], pa.binary())})
        self.dirs = {}
        for name, table in (("frontier", frontier), ("seen", seen)):
            self.dirs[name] = os.path.join(work, "inputs", name)
            write_bucketed(table, self.dirs[name], "url_hash", FRONTIER_BUCKETS)
        gen_s = time.monotonic() - t0
        con = duckdb.connect()
        con.execute(f"""
            CREATE VIEW surv AS
            SELECT f.* FROM read_parquet('{self.dirs["frontier"]}/*.parquet') f
            ANTI JOIN read_parquet('{self.dirs["seen"]}/*.parquet') s USING (url_hash)""")
        survivors = con.execute("SELECT count(*) FROM surv").fetchone()[0]
        ref = f"""
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY host ORDER BY priority, arrival_seq) - 1 AS rank
              FROM surv) WHERE rank < {HOST_BUDGET}"""
        want = con.execute(f"SELECT {_DIGEST_SQL} FROM ({ref})").fetchone()
        con.close()
        return {"gen_s": gen_s, "survivors": survivors, "wave": tuple(int(x) for x in want)}

    def setup(self, ctx) -> None:
        from link_profiler_repo_spark.sources.bucketed import register_external_bucketed

        spark = ctx.spark
        info = ctx.expected.result()
        self.expected, self.survivors = info["wave"], info["survivors"]
        ctx.layer["synth.frontier_s"] = info["gen_s"]
        t0 = time.monotonic()
        tabs = {
            name: register_external_bucketed(
                spark, f"pb_{name}", loc, spark.read.parquet(loc), buckets=FRONTIER_BUCKETS
            )
            for name, loc in self.dirs.items()
        }
        ctx.layer["sources.bucketed.register_s"] = time.monotonic() - t0
        self.frontier, self.seen = tabs["frontier"], tabs["seen"]
        # one untimed epoch warms the plan, codegen and JIT
        self._run(self.frontier, self.seen)

    @staticmethod
    def _digest(wave) -> tuple[int, ...]:
        import pyspark.sql.functions as F

        r = wave.agg(*[F.expr(e) for e in _DIGEST_SQL.split(", ")]).collect()[0]
        return tuple(int(x or 0) for x in r)

    def _run(self, frontier, seen) -> tuple[int, ...]:
        from link_profiler_repo_spark.operators.frontier import schedule_epoch

        return self._digest(
            schedule_epoch(frontier, seen, host_budget=HOST_BUDGET, n_salt=N_SALT, co_bucketed=True)
        )

    def op(self, ctx) -> dict:
        with ctx.tracer.span("operators.frontier.schedule_epoch", kind="call"):
            got = self._run(self.frontier, self.seen)
        if got != self.expected:
            raise AssertionError(f"issued wave {got} != single-window top-k {self.expected}")
        return {"items": FRONTIER_URLS, "counts": {"issued": list(got)}}

    def one_core_op(self, ctx) -> float:
        """One epoch with every JVM thread pinned to a single CPU; returns
        its wall. Same JVM, same plan and shuffle partitions as `op`."""
        jvm = ctx.jvm_pid()
        cpus = os.sched_getaffinity(0)
        _pin(jvm, {min(cpus)})
        try:
            with ctx.tracer.span("operators.frontier.schedule_epoch@1cpu", kind="call1"):
                t0 = time.monotonic()
                got = self._run(self.frontier, self.seen)
                dt = time.monotonic() - t0
        finally:
            _pin(jvm, cpus)
        if got != self.expected:
            raise AssertionError(f"1-core issued wave {got} != {self.expected}")
        return dt

    def layer(self, ctx, jobs: list[dict], calls: list[dict]) -> dict[str, float]:
        m = exchange_metrics(jobs)
        n = max(len(calls), 1)
        wall = sum(c["end"] - c["start"] for c in calls)
        antijoin = rank = 0.0
        for span in ctx.tracer.spans:
            if span["id"] in ctx.stage_of and span["parent"] in ctx.call_jobs:
                # stages that scan the bucketed tables do the anti-join (and
                # write the window's shuffle); the rest rank the survivors
                if ctx.stage_of[span["id"]]["in_rows"] > 0:
                    antijoin += ctx.selfs[span["id"]]
                else:
                    rank += ctx.selfs[span["id"]]
        s = _stage_sums(jobs)
        m.update({
            "frontier.antijoin_s": antijoin / n,
            "frontier.rank_s": rank / n,
            "frontier.task_cpu_s": s["cpu_s"] / n,
            "frontier.shuffle_write_mb": _mb(s["shuffle_write_b"]) / n,
            "frontier.spill_mb": _mb(s["spill_b"]) / n,
            "frontier.packing": s["run_s"] / (ctx.cores * wall) if wall else 0.0,
            "frontier.survivor_frac": self.survivors / FRONTIER_URLS,
        })
        return m


def _rotl(x, r: int):
    return (x << r) | (x >> (32 - r))


def spark_bucket_ids(keys: list[bytes], n_buckets: int):
    """Spark's bucket id of each key, pmod(hash(key), n_buckets): Murmur3
    x86_32 with seed 42 over the key's little-endian 4-byte words, as
    Murmur3_x86_32.hashUnsafeBytes computes it for a binary column. Keys
    must be of one length, a multiple of 4."""
    import numpy as np

    words = np.frombuffer(b"".join(keys), dtype="<u4").reshape(len(keys), -1)
    h = np.full(len(keys), 42, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for i in range(words.shape[1]):
            k = _rotl(words[:, i] * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
            h = _rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(words.shape[1] * 4)
        h ^= h >> 16
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> 13
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> 16
    return np.mod(h.view(np.int32).astype(np.int64), n_buckets)


def write_bucketed(table, out_dir: str, key: str, n_buckets: int) -> None:
    """Write `table` as Spark's bucketBy(n_buckets, key).sortBy(key) layout:
    one file per bucket, sorted on the key, named with the bucket id the
    way Spark's bucketed scan parses it. This is the compacted state-table
    layout, written without a Spark job so it can be made beside session
    start."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ids = spark_bucket_ids(table.column(key).to_pylist(), n_buckets)
    table = table.append_column("_bucket", pa.array(ids)).sort_by(
        [("_bucket", "ascending"), (key, "ascending")]
    )
    bounds = np.searchsorted(table.column("_bucket").to_numpy(), np.arange(n_buckets + 1))
    table = table.drop_columns(["_bucket"])
    for b in range(n_buckets):
        pq.write_table(
            table.slice(bounds[b], bounds[b + 1] - bounds[b]),
            os.path.join(out_dir, f"part-00000-perfbench_{b:05d}.c000.parquet"),
        )


# order-free digest of an issued wave, the same SQL in Spark and DuckDB
_DIGEST_SQL = (
    "count(*), sum(arrival_seq), sum((arrival_seq % 1000003) * (rank + 1)), "
    "sum(priority * (rank + 1)), sum(length(url) * (rank + 1))"
)


def _pin(pid: int, cpus: set[int]) -> None:
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            os.sched_setaffinity(int(tid), cpus)
        except OSError:
            pass  # thread exited meanwhile


class CrawlBfs:
    name = "crawl_bfs"
    shuffle_partitions = None  # the session factory's default
    # one crawl (~20 s in a fresh JVM) fits a run beside the ~18 s set-up
    min_calls = 1

    @staticmethod
    def _web(seed: int):
        """The synthetic web of a seed and the crawl's seed URLs: every
        CRAWL_DOCS // CRAWL_SEEDS-th page."""
        from link_profiler_repo_spark.synth import SynthParams, doc_index_to_host_page, page_url

        p = SynthParams(seed=seed, n_docs=CRAWL_DOCS, n_hosts=CRAWL_HOSTS)
        stride = max(1, CRAWL_DOCS // CRAWL_SEEDS)
        return p, [page_url(*doc_index_to_host_page(i, p)) for i in range(0, CRAWL_DOCS, stride)]

    def setup(self, ctx) -> None:
        from link_profiler_repo_spark.synth import synth_docs_spark

        self.p, self.seeds = self._web(ctx.seed)
        t0 = time.monotonic()
        self.docs = synth_docs_spark(ctx.spark, self.p).persist()
        self.docs.count()
        ctx.layer["synth.docs_s"] = time.monotonic() - t0
        self.expected = ctx.expected.result()
        self.n = 0

    def expected_values(self, seed: int, work: str):
        """Oracle crawl order; pure Python, so it runs beside session start."""
        from link_profiler_repo_spark.oracle_sim import simulate_bfs
        from link_profiler_repo_spark.synth import gen_all_docs

        p, seeds = self._web(seed)
        return simulate_bfs(gen_all_docs(p), seeds, self._cfg("oracle"), p)

    @staticmethod
    def _cfg(job_id: str):
        from link_profiler_repo_spark.config import CrawlConfig

        return CrawlConfig(job_id=job_id, max_depth=CRAWL_MAX_DEPTH, max_pages=CRAWL_MAX_PAGES)

    def op(self, ctx) -> dict:
        from link_profiler_repo_spark.operators.crawl import CrawlEngine

        self.n += 1
        state = os.path.join(ctx.work, "state", f"crawl{self.n}")
        eng = CrawlEngine(
            ctx.spark, self._cfg(f"bench{self.n}"), self.docs, state,
            synth_params=self.p, use_bloom=True, bloom_bits=CRAWL_BLOOM_BITS,
        )
        with ctx.tracer.span("operators.crawl.CrawlEngine.run_bfs", kind="call"):
            out = eng.run_bfs(self.seeds)
        st = out["stats"]
        self.last_state, self.last_stats = state, st
        return {
            "items": st.crawled,
            "counts": {"pages": st.crawled, "scheduled": st.scheduled, "epochs": st.epochs},
            "check": lambda: self._check(out),
        }

    def _check(self, out: dict) -> None:
        rows = out["seen"].orderBy("crawl_order").select("crawl_order", "url", "depth").collect()
        got = [(int(r[0]), r[1], int(r[2])) for r in rows]
        if got != self.expected.order:
            raise AssertionError("crawl order differs from oracle_sim.simulate_bfs")
        if {u for _, u, _ in got} != self.expected.seen:
            raise AssertionError("seen set differs from oracle_sim.simulate_bfs")

    def layer(self, ctx, jobs: list[dict], calls: list[dict]) -> dict[str, float]:
        stats, state_dir = self.last_stats, self.last_state
        m = exchange_metrics(jobs)
        n_calls = max(len(calls), 1)
        epochs = max(stats.epochs, 1) * n_calls
        step_s = {s: 0.0 for s in CRAWL_STEPS}
        step_jobs = {s: 0 for s in CRAWL_STEPS}
        epoch_spans: dict[tuple[int, int | None], list[float]] = {}
        gap = sum(ctx.selfs[c["id"]] for c in calls)
        for span in ctx.tracer.spans:
            if span["id"] not in ctx.call_jobs:
                continue
            step = span["step"] if span["step"] in step_s else "other"
            step_s[step] += tr.subtree_self(ctx.tracer.spans, ctx.selfs, span["id"])
            step_jobs[step] += 1
            if span["epoch"] is not None:
                b = epoch_spans.setdefault((span["parent"], span["epoch"]), [span["start"], span["end"]])
                b[0], b[1] = min(b[0], span["start"]), max(b[1], span["end"])
        s = _stage_sums(jobs)
        for step in CRAWL_STEPS:
            m[f"crawl.step.{step}.s"] = step_s[step] / n_calls
            m[f"crawl.step.{step}.jobs"] = step_jobs[step] / n_calls
        m.update({
            "crawl.jobs_per_epoch": len(jobs) / epochs,
            "crawl.tasks_per_epoch": s["tasks"] / epochs,
            "crawl.job_busy_s": sum(step_s.values()) / n_calls,
            "crawl.driver_gap_s": gap / n_calls,
            "crawl.epoch_s_p50": statistics.median(b - a for a, b in epoch_spans.values()) if epoch_spans else 0.0,
            "crawl.crawled_per_scheduled": stats.crawled / max(stats.scheduled, 1),
        })
        nbytes = nfiles = 0
        for root, _dirs, files in os.walk(state_dir):
            for f in files:
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(root, f))
        m.update({
            "state.bytes_written_mb": _mb(nbytes),
            "state.files": float(nfiles),
            "state.bytes_per_page": nbytes / max(stats.crawled, 1),
        })
        return m


class LinkQueries:
    name = "link_queries"
    shuffle_partitions = None  # the session factory's default
    min_calls = 3

    def expected_values(self, seed: int, work: str) -> dict:
        """Write the tables and run every query's DuckDB twin; pure Python
        and DuckDB, so it runs beside session start."""
        import duckdb

        import tables

        from link_profiler_repo_spark import queries as Q

        self.Q = Q
        self.sf_dir = os.path.join(work, "inputs", "sf")
        t0 = time.monotonic()
        tables.write_tables(self.sf_dir, QUERY_SF, seed)
        tables_s = time.monotonic() - t0
        con = duckdb.connect()
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        want = {n: _canon(con.execute(Q.SQL_ORACLES[n]).df()) for n in QUERIES}
        con.close()
        return {"tables_s": tables_s, "want": want}

    def setup(self, ctx) -> None:
        info = ctx.expected.result()
        ctx.layer["synth.tables_s"] = info["tables_s"]
        # first pass: each query against its DuckDB twin; it also warms
        # every plan. The queries run side by side to shorten this cold
        # pass; the timed passes run them one after another.
        with ThreadPoolExecutor(len(QUERIES)) as pool:
            self.expected = dict(zip(QUERIES, pool.map(lambda n: self._query(ctx, n), QUERIES)))
        for name, got in self.expected.items():
            ctx.attempted += 1
            if got != info["want"][name]:
                ctx.failures.append(f"{name}: {got} differs from its DuckDB twin {info['want'][name]}")
        # planning dominates a pass at this size. After the first pass the JIT
        # is still compiling the planner: a timed pass then took ~10 CPU-s and
        # its wall varied by a quarter between runs; after two more, ~6 CPU-s.
        for _ in range(WARM_PASSES):
            res = self.op(ctx)
            ctx.attempted += res["attempted"]
            ctx.failures.extend(res["failures"])

    def _query(self, ctx, name: str) -> tuple[int, str]:
        return _canon(self.Q.SPARK_QUERIES[name](ctx.spark, self.sf_dir).toPandas())

    def op(self, ctx) -> dict:
        failures = []
        for name in QUERIES:
            with ctx.tracer.span(f"queries.{name}", kind="call"):
                try:
                    got = self._query(ctx, name)
                except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                    failures.append(f"{name}: {type(e).__name__}: {e}")
                    continue
            if got != self.expected[name]:
                failures.append(f"{name}: {got} differs from the checked first pass")
        return {
            "items": len(QUERIES) - len(failures),
            "counts": {f"rows.{n}": self.expected[n][0] for n in QUERIES},
            "attempted": len(QUERIES),
            "failures": failures,
        }

    def layer(self, ctx, jobs: list[dict], calls: list[dict]) -> dict[str, float]:
        m = exchange_metrics(jobs)
        per = {name: 0.0 for name in QUERIES}
        gap = 0.0
        for span in calls:
            per[span["name"].split(".", 1)[1]] += span["end"] - span["start"]
            gap += ctx.selfs[span["id"]]
        for name in QUERIES:
            m[f"query.{name}.s"] = per[name] / ctx.n_reps
        m["queries.driver_gap_s"] = gap / ctx.n_reps
        m["queries.jobs"] = len(jobs) / ctx.n_reps
        return m


def _cell(v):
    """One result cell in a form both engines agree on: integral numbers as
    ints, other floats to 9 places, arrays as tuples, times as ISO text."""
    import datetime
    import decimal
    import math

    if hasattr(v, "tolist"):
        v = v.tolist()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool) or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2**53):
            return int(v)
        return round(f, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.replace(tzinfo=None).isoformat() if isinstance(v, datetime.datetime) else v.isoformat()
    return repr(v)


def _canon(pdf) -> tuple[int, str]:
    """(rows, order-free digest) of a query result: columns by name, cells
    normalised by `_cell`, rows sorted."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(_cell(r[c]) for c in cols)) for r in pdf.to_dict("records"))
    h = hashlib.sha256("\x1e".join([",".join(cols), *rows]).encode()).hexdigest()
    return len(rows), h


WORKLOADS = {w.name: w for w in (FrontierEpoch, CrawlBfs, LinkQueries)}


def start_expected(workload, seed: int, work: str, pool: ThreadPoolExecutor):
    """Start writing a workload's inputs and computing its expected values
    off the main thread, beside session start."""
    return pool.submit(workload.expected_values, seed, work)
