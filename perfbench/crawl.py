"""The ``frontier_backlog`` workload: rounds resumed over a large
carried-over queue.

It drives the engine only through its public entry points
(``CrawlEngine.run``, ``CrawlState.commit_round`` / ``compact_seen`` and
the state readers) as one closed-loop client: the next round starts only
after the previous one has returned.

Untraced rounds take their timings from the committed manifests (a round
ends when its ``manifest.json`` becomes visible), so nothing is wrapped
while end-to-end metrics are measured.
"""

from __future__ import annotations

import glob
import math
import os
import random
import shutil
import time

import duckdb
from pyspark.sql import functions as F

from web_scraper_spark.frontier.bloom import split_by_bloom_table
from web_scraper_spark.frontier.engine import CrawlConfig, CrawlEngine, prepare_pages
from web_scraper_spark.frontier.politeness import priority_order, robots_filter, select_round
from web_scraper_spark.frontier.state import FETCH_LOG_SCHEMA, FRONTIER_SCHEMA, SEEN_SCHEMA
from web_scraper_spark.html.udfs import parse_pages
from web_scraper_spark.operators.ranking import with_global_rank
from web_scraper_spark.urls import url_hash, url_host, with_canon

from perfbench.common import Clock, dir_bytes, force, median
from perfbench.tracing import max_job_id

AS_OF = "2025-12-01T22:30:00"

# a large carried-over queue where dedup, Bloom, politeness and the
# full-frontier snapshot write dominate
BACKLOG_URLS = 25_000
BACKLOG_HOSTS = 500
BACKLOG_HOT_SHARE = 10  # 1 in 10 URLs belongs to the hot host
BACKLOG_SEEN_OVERLAP = 5  # 1 in 5 frontier URLs is already seen
BACKLOG_SEEN_EXTRA = 12_500
BACKLOG_DELAYS = (0.5, 1.0, 2.0)
# every stored page is a listing page with this many article links; the
# targets are drawn from 1.5x the frontier's ids, so a third of them are
# new URLs and the rest are already queued (a fifth of those also seen)
BACKLOG_LINKS = 3
BACKLOG_LINK_IDS = BACKLOG_URLS * 3 // 2
# the seeded state is committed as round 1, a crawl in progress picked up
# mid-way: the engine consults the Bloom table from round 2 on, so every
# resumed round runs the Bloom pre-filter against the seeded seen set
BACKLOG_SEED_ROUND = 1
BACKLOG_ROUND = BACKLOG_SEED_ROUND + 1
# one round per run() call: the first round 2 is the warm-up, every timed
# operation re-runs round 2 from the committed round-1 state
BACKLOG_CRAWL = CrawlConfig(as_of=AS_OF, round_seconds=10.0, max_rounds=1)
# at least this many timed rounds, so that no figure rests on one round
BACKLOG_MIN_ROUNDS = 2


# ---------------------------------------------------------------------------
# manifests → per-round timings and counts
# ---------------------------------------------------------------------------


def _manifest_path(sd: str, k: int) -> str:
    return os.path.join(sd, f"round={k:04d}", "manifest.json")


def _round_stats(eng, k: int, start_wall: float) -> dict:
    """Round k of one ``run()`` call: wall from the call until the round's
    manifest became visible, fetched rows, frontier in/out sizes."""
    man = eng.state.manifest(k)
    return {
        "wall": os.stat(_manifest_path(eng.state.dir, k)).st_mtime - start_wall,
        "fetched": man["metrics"]["fetched"],
        "frontier_in": man["metrics"].get("frontier_in", 0),
        "frontier_next": sum(man["lineage"]["frontier"]),
    }


def e2e_from_rounds(rounds: list[dict]) -> dict:
    """Medians over the timed rounds: a round's wall (``round_s_p50``), and
    its fetched pages and frontier URLs (in + next) per second of it."""
    return {
        "pass_s": median(r["wall"] for r in rounds),
        "output_rows_per_s": median(r["fetched"] / r["wall"] for r in rounds),
        "input_rows_per_s": median((r["frontier_in"] + r["frontier_next"]) / r["wall"] for r in rounds),
    }


# ---------------------------------------------------------------------------
# traced passes: spans around the state's public methods + parquet writes
# ---------------------------------------------------------------------------


class _RoundHooks:
    """Wraps ``commit_round`` / ``compact_seen`` on one engine's state
    instance (the engine calls them through ``self.state``)."""

    def __init__(self, eng, tracer, spark):
        self.tracer = tracer
        self.commits = []  # (round, span, job id after commit)
        state = eng.state
        commit, compact = state.commit_round, state.compact_seen

        def commit_round(k, *args, **kwargs):
            with tracer.span("state.commit_round", round=k) as sp:
                man = commit(k, *args, **kwargs)
            self.commits.append((k, sp, max_job_id(spark)))
            return man

        state.commit_round = commit_round
        state.compact_seen = tracer.wrap("state.compact_seen", compact)

    def close_rounds(self, run_span, jobs_before: int) -> list[dict]:
        """Synthesize one ``engine.round`` span per committed round (start =
        previous commit end, end = this commit end) and re-parent the
        commit under it."""
        out = []
        prev_end, prev_jobs = run_span.start, jobs_before
        for k, sp, jobs in self.commits:
            rs = self.tracer.add("engine.round", prev_end, sp.end, run_span.id, round=k)
            sp.parent = rs.id
            out.append({"round": k, "span": rs, "commit": sp, "jobs": jobs - prev_jobs})
            prev_end, prev_jobs = sp.end, jobs
        return out


def traced_pass(spark, tracer, eng, run_kwargs, sd: str) -> list[dict]:
    hooks = _RoundHooks(eng, tracer, spark)
    jobs0 = max_job_id(spark)
    with tracer.patch_parquet_writer(), tracer.span("engine.run") as run_span:
        eng.run(**run_kwargs)
    rounds = hooks.close_rounds(run_span, jobs0)
    for r in rounds:
        r["bytes"] = dir_bytes(os.path.join(sd, f"round={r['round']:04d}"))
    return rounds


def commit_layer_metrics(tracer, rounds: list[dict]) -> dict:
    def writes(commit, *datasets):
        return sum(
            c.end - c.start
            for c in tracer.children(commit)
            if c.attrs.get("dataset") in datasets
        )

    return {
        "engine.round_s": median(r["span"].end - r["span"].start for r in rounds),
        "engine.plan_s": median(tracer.self_time(r["span"]) for r in rounds),
        "engine.spark_jobs_per_round": median(r["jobs"] for r in rounds),
        "state.commit_s": median(r["commit"].end - r["commit"].start for r in rounds),
        "state.commit_self_s": median(tracer.self_time(r["commit"]) for r in rounds),
        "state.fetch_log_write_s": median(writes(r["commit"], "fetch_log") for r in rounds),
        "state.frontier_write_s": median(writes(r["commit"], "frontier") for r in rounds),
        "state.seen_bloom_write_s": median(
            writes(r["commit"], "seen_delta", "bloom") for r in rounds
        ),
        "state.bytes_written_per_round": median(r["bytes"] for r in rounds),
    }


# ---------------------------------------------------------------------------
# replay probes: each lazy layer re-run on a committed round's inputs
# ---------------------------------------------------------------------------


def _timed(tracer, name, fn):
    with tracer.span(name) as sp:
        out = fn()
    return out, sp.end - sp.start


def replay_layers(tracer, eng, pages, robots, cfg: CrawlConfig, k: int) -> dict:
    """Re-run dedup, politeness, rank, parse and canonicalization on round
    k's committed inputs (``read_frontier(k-1)``, ``read_seen(k-1)``,
    ``read_blooms(k-1)``, round-k fetched pages), forcing each with a noop
    write."""
    st = eng.state
    out = {}
    with tracer.span("replay.round", round=k):
        frontier = st.read_frontier(k - 1).cache()
        seen = st.read_seen(k - 1).cache()
        frontier.count(), seen.count()
        out["state.seen_files_read"] = len(st.seen_paths(k - 1))
        handles = [frontier, seen]
        blooms = st.read_blooms(k - 1) if cfg.use_bloom and k > 1 else None
        if blooms is not None:
            (new, maybe, flagged), out["bloom.split_s"] = _timed(
                tracer, "replay.bloom.split",
                lambda: _forced(split_by_bloom_table(frontier, blooms, eng.bloom_spec), 2),
            )
            handles.append(flagged)
            by_flag = {r["maybe_seen"]: r["count"] for r in flagged.groupBy("maybe_seen").count().collect()}
            n_maybe = by_flag.get(True, 0)
            out["bloom.maybe_share"] = _share(n_maybe, sum(by_flag.values()))
            out["bloom.fp_share"] = _share(
                maybe.join(seen, ["bucket", "url_hash"], "left_anti").count(), n_maybe
            )
            probe = maybe
        else:
            new, probe = None, frontier
        clean, out["seen.antijoin_s"] = _timed(
            tracer, "replay.seen.antijoin",
            lambda: _forced(probe.join(seen, ["bucket", "url_hash"], "left_anti")),
        )
        out["seen.rows_probed"] = probe.count()
        candidates = (new.unionByName(clean) if new is not None else clean).cache()
        candidates.count()
        allowed, out["politeness.robots_s"] = _timed(
            tracer, "replay.politeness.robots",
            lambda: _forced(robots_filter(candidates, robots)),
        )
        allowed = allowed.cache()
        per_host = {r["host"]: r["count"] for r in allowed.groupBy("host").count().collect()}
        host_state = st.read_host_state(k - 1)
        debt = (
            {r["host"]: r["next_free_s"] for r in host_state.collect()}
            if host_state is not None else {}
        )
        selected, out["politeness.select_s"] = _timed(
            tracer, "replay.politeness.select",
            lambda: _forced(select_round(
                allowed, robots, cfg.round_seconds, cfg.default_crawl_delay,
                cfg.salt, host_state=host_state,
            )),
        )
        selected = selected.cache()
        n_selected = selected.count()
        delays = {r["host"]: r["crawl_delay"] for r in robots.select("host", "crawl_delay").collect()}
        capacity = sum(
            _budget(cfg, delays.get(h, cfg.default_crawl_delay), debt.get(h, 0.0))
            for h in per_host
        )
        n_allowed = sum(per_host.values())
        out["politeness.selected_share"] = _share(n_selected, n_allowed)
        out["politeness.hot_host_share"] = _share(max(per_host.values(), default=0), n_allowed)
        out["politeness.budget_fill"] = _share(n_selected, capacity)
        (ranked, rank_handle), out["ranking.rank_s"] = _timed(
            tracer, "replay.ranking.rank",
            lambda: _forced(with_global_rank(selected, priority_order(), "_rank"), 0),
        )

        fetched = (
            st.read_fetch_log(k).where(F.col("round") == k)
            .join(prepare_pages(pages), on="url_canon", how="inner")
            .select("url", "source", "depth", "category_name", "category_pos",
                    "page_no", "listing_pos", "html")
            .cache()
        )
        sizes = fetched.agg(F.count("*").alias("n"), F.sum(F.length("html")).alias("b")).first()
        out["parse.pages"] = sizes["n"]
        out["parse.html_bytes"] = sizes["b"] or 0
        parsed = parse_pages(fetched).cache()
        _, out["parse.parse_s"] = _timed(tracer, "replay.parse", lambda: force(parsed))
        out["parse.records"] = parsed.count()
        links = (
            parsed.where(F.col("out_url").isNotNull())
            .select(F.col("out_url").alias("url")).cache()
        )
        out["urls.rows"] = links.count()
        _, out["urls.canon_s"] = _timed(
            tracer, "replay.urls.canon",
            lambda: force(
                with_canon(links, "url", "url_canon")
                .withColumn("url_hash", url_hash(F.col("url_canon")))
                .withColumn("host", url_host(F.col("url_canon")))
            ),
        )
        for h in handles + [candidates, allowed, selected, rank_handle, fetched, parsed, links]:
            h.unpersist()
    return out


def replay_compaction(tracer, eng, sd: str, k: int) -> dict:
    """Fold the seen deltas through round k (``compact_seen``) and count
    the bytes it wrote (hard-linked carry-over files are not rewritten)."""
    _, dt = _timed(tracer, "replay.state.compact", lambda: eng.state.compact_seen(k))
    rewritten = 0
    for path in glob.glob(os.path.join(sd, f"seen_compact={k:04d}", "**", "*"), recursive=True):
        st = os.stat(path)
        if os.path.isfile(path) and st.st_nlink == 1:
            rewritten += st.st_size
    return {"state.compact_s": dt, "state.compact_bytes_rewritten": rewritten}


def state_bytes_per_url(eng, sd: str, k: int) -> float:
    st = eng.state
    urls = (
        st.read_frontier(k).select("url_canon")
        .union(st.read_seen(k).select("url_canon")).distinct().count()
    )
    return dir_bytes(sd) / max(urls, 1)


def _forced(result, index: int | None = None):
    """Force a replay result (or the ``index``-th frame of a tuple result)."""
    force(result if index is None else result[index])
    return result


def _budget(cfg: CrawlConfig, delay: float, debt: float) -> int:
    if debt >= cfg.round_seconds:
        return 0
    return math.ceil((cfg.round_seconds - debt) / delay)


def _share(a: float, b: float) -> float:
    return a / b if b else 0.0


# ---------------------------------------------------------------------------
# frontier_backlog
# ---------------------------------------------------------------------------


def _backlog_robots(seed: int) -> list[tuple]:
    """(host, crawl_delay, disallow) per host; every other host disallows
    /private/. The seed shuffles which host gets which delay, but each
    delay goes to the same number of hosts, so the total per-round
    budget (and the work of a round) does not depend on the seed."""
    delays = [BACKLOG_DELAYS[i % len(BACKLOG_DELAYS)] for i in range(BACKLOG_HOSTS)]
    random.Random(seed).shuffle(delays)
    return [
        (f"h{i}.backlog.example", delays[i], ["/private/"] if i % 2 else [])
        for i in range(BACKLOG_HOSTS)
    ]


def _keyed(df, n_buckets: int):
    return (
        with_canon(df, "url", "url_canon")
        .withColumn("url_hash", url_hash(F.col("url_canon")))
        .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        .withColumn("host", url_host(F.col("url_canon")))
    )


def _backlog_url(seed: int, ident):
    """URL of backlog id ``ident``: one id in BACKLOG_HOT_SHARE sits on
    host 0 and one in 50 has a /private/ path. The slug carries the crawl
    date, so a link to it passes the engine's alpha slug-date filter."""
    h = F.xxhash64(F.lit(seed), ident)
    host = F.when(F.pmod(h, F.lit(BACKLOG_HOT_SHARE)) == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.lit(seed), ident, F.lit("host")), F.lit(BACKLOG_HOSTS - 1)) + 1
    )
    path = F.when(F.pmod(F.xxhash64(F.lit(seed), ident, F.lit("path")), F.lit(50)) == 0,
                  F.lit("/private/")).otherwise(F.lit("/p/"))
    slug_date = AS_OF[:10].replace("-", "")
    return F.concat(F.lit("https://h"), host.cast("string"), F.lit(".backlog.example"),
                    path, ident.cast("string"), F.lit(f"-{slug_date}.htm"))


def _backlog_page(seed: int):
    """A listing page whose article links point at BACKLOG_LINKS ids drawn
    from the page's own id."""
    parts = [F.lit("<html><head><title>queued</title></head><body>")]
    for j in range(BACKLOG_LINKS):
        target = F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("link"), F.lit(j)),
                        F.lit(BACKLOG_LINK_IDS))
        parts += [F.lit('<div class="box-category-item"><a href="'),
                  _backlog_url(seed, target), F.lit(f'">link {j}</a></div>')]
    parts.append(F.lit("</body></html>"))
    return F.concat(*parts).cast("binary")


def _backlog_frames(spark, seed: int, n_buckets: int):
    """Round-0 frontier, seen set and stored pages, all derived from the
    seed. One frontier URL in BACKLOG_SEEN_OVERLAP is already seen. The
    returned handle caches the frontier (the seen set is drawn from it):
    unpersist it once committed."""
    ids = spark.range(BACKLOG_URLS)
    base = ids.select(
        "id",
        _backlog_url(seed, F.col("id")).alias("url"),
        F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("inlinks")), F.lit(100)).alias("inlinks"),
        (F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("seen")), F.lit(BACKLOG_SEEN_OVERLAP)) == 0)
        .alias("is_seen"),
    )
    frontier = _keyed(base, n_buckets).select(
        "url", "url_canon", "url_hash", "bucket", "host",
        F.lit("alpha").alias("source"), F.lit(0).alias("source_pos"), F.lit(1).alias("depth"),
        F.lit("").alias("category_name"), F.lit(0).alias("category_pos"),
        F.lit(1).alias("page_no"), F.lit(-1).alias("listing_pos"), F.lit("").alias("listing_date"),
        F.col("inlinks").cast("long"), F.lit(0).alias("fail_count"), F.lit(0).alias("round_added"),
        "is_seen",
    ).cache()
    old = spark.range(BACKLOG_SEEN_EXTRA).select(
        F.concat(
            F.lit("https://h"),
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("old")), F.lit(BACKLOG_HOSTS)).cast("string"),
            F.lit(".backlog.example/old/"), F.col("id").cast("string"),
        ).alias("url")
    )
    seen_cols = [c.split(" ")[0] for c in SEEN_SCHEMA.split(", ")]
    seen = (
        frontier.where("is_seen").select("url_hash", "bucket", "url_canon")
        .unionByName(_keyed(old, n_buckets).select("url_hash", "bucket", "url_canon"))
        .withColumn("round", F.lit(0))
        .select(*seen_cols)
    )
    frontier_cols = [c.strip().split(" ")[0] for c in FRONTIER_SCHEMA.split(",")]
    pages = ids.select(_backlog_url(seed, F.col("id")).alias("url"), _backlog_page(seed).alias("html"))
    return frontier.select(*frontier_cols), seen, pages, frontier


def _seed_backlog(spark, seed: int, sd: str, robots):
    """Commit the seeded state through CrawlState.commit_round."""
    shutil.rmtree(sd, ignore_errors=True)
    frontier, seen, pages, handle = _backlog_frames(spark, seed, BACKLOG_CRAWL.n_buckets)
    pages = pages.cache()
    pages.count()
    eng = CrawlEngine(spark, pages, robots, sd, BACKLOG_CRAWL)
    eng.state.commit_round(
        BACKLOG_SEED_ROUND, frontier, seen, spark.createDataFrame([], FETCH_LOG_SCHEMA),
        {"seeded": BACKLOG_URLS},
    )
    handle.unpersist()
    return eng, pages


def _scan(paths: list[str]) -> str:
    """DuckDB table function over explicit parquet files (the round=/bucket=
    directory names are not read as columns: the files carry them)."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    return f"read_parquet([{quoted}], hive_partitioning = false)"


def _check_backlog(sd: str, rounds: list[int], robots_rows: list[tuple], cfg: CrawlConfig) -> list[tuple]:
    """Invariants of the given resumed rounds, checked with DuckDB on the
    committed files (fetch_pos over every round since the seed). Returns
    (round, problem) pairs."""
    first = BACKLOG_ROUND
    import pyarrow as pa

    def files(k, dataset, depth=1):
        pattern = [os.path.join(sd, f"round={k:04d}", dataset)] + ["*"] * (depth - 1) + ["*.parquet"]
        return glob.glob(os.path.join(*pattern))

    def seen_upto(k):
        return _scan([f for i in range(k + 1) for f in files(i, "seen_delta", 2)])

    con = duckdb.connect()
    problems = []
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    try:
        robots = pa.table({
            "host": [r[0] for r in robots_rows],
            "crawl_delay": [r[1] for r in robots_rows],
            "disallow": pa.array([list(r[2]) for r in robots_rows], pa.list_(pa.string())),
        })
        con.register("robots", robots)
        for k in rounds:
            log, seen_before = _scan(files(k, "fetch_log")), seen_upto(k - 1)
            delta = files(k, "seen_delta", 2)
            n_delta = q(f"SELECT count(*) FROM {_scan(delta)}") if delta else 0
            if q(f"SELECT count(*) FROM {log} l JOIN {seen_before} s USING (url_canon)"):
                problems.append((k, "fetched a URL that was already seen"))
            if q(f"SELECT count(*) FROM (SELECT host, count(*) AS n FROM {log} GROUP BY host) "
                 f"JOIN robots USING (host) WHERE n > ceil({cfg.round_seconds} / crawl_delay)"):
                problems.append((k, "a host exceeded its per-round budget"))
            if q(f"SELECT count(*) FROM {log} WHERE status = 'crawled'") != n_delta or (
                delta and q(f"SELECT count(*) FROM {_scan(delta)} d JOIN {seen_before} s USING (url_canon)")
            ):
                problems.append((k, "seen did not grow by exactly the crawled count"))
        all_logs = _scan([f for k in range(first, max(rounds) + 1) for f in files(k, "fetch_log")])
        n, n_distinct, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT fetch_pos), min(fetch_pos), max(fetch_pos) FROM {all_logs}"
        ).fetchone()
        # fetch_pos is the 1-based global crawl position (ranking.with_global_rank)
        if not (n == n_distinct and lo == 1 and hi == n):
            problems.append((rounds[-1], "fetch_pos is not contiguous and unique"))
        if first in rounds:
            # the per-host top-budget rule (politeness.select_round) restated
            # over the seeded inputs; no host carries schedule debt yet
            expected = con.execute(f"""
                WITH cand AS (
                  SELECT f.* FROM {_scan(files(BACKLOG_SEED_ROUND, "frontier"))} f
                  ANTI JOIN {seen_upto(BACKLOG_SEED_ROUND)} s USING (url_hash)
                ), allowed AS (
                  SELECT c.*, r.crawl_delay FROM cand c LEFT JOIN robots r USING (host)
                  WHERE NOT coalesce(list_bool_or(list_transform(
                    r.disallow, d -> starts_with(
                      regexp_extract(c.url_canon, '^[a-z][a-z0-9+.\\-]*://[^/]*(/.*)$', 1), d))), false)
                ), ranked AS (
                  SELECT url_canon, crawl_delay, row_number() OVER (
                    PARTITION BY host ORDER BY depth, inlinks DESC, source_pos, category_pos,
                    page_no, listing_pos, url_canon) AS rn
                  FROM allowed
                )
                SELECT url_canon FROM ranked
                WHERE rn <= ceil({cfg.round_seconds} / coalesce(crawl_delay, {cfg.default_crawl_delay}))
            """).fetchall()
            got = con.execute(f"SELECT url_canon FROM {_scan(files(first, 'fetch_log'))}").fetchall()
            if {r[0] for r in expected} != {r[0] for r in got}:
                problems.append((first, "selection differs from the per-host top-budget rule"))
    finally:
        con.close()
    return problems


def run_frontier_backlog(spark, tmp: str, seed: int, seconds: float, tracer=None) -> dict:
    robots_rows = _backlog_robots(seed)
    sd = os.path.join(tmp, "backlog")
    t0 = time.perf_counter()
    robots = spark.createDataFrame(
        robots_rows, "host string, crawl_delay double, disallow array<string>"
    ).cache()
    robots.count()
    eng, pages = _seed_backlog(spark, seed, sd, robots)
    build = time.perf_counter() - t0
    t0 = time.perf_counter()
    CrawlEngine(spark, pages, robots, sd, BACKLOG_CRAWL).run(resume=True)
    warmup = time.perf_counter() - t0
    found = _check_backlog(sd, [BACKLOG_ROUND], robots_rows, BACKLOG_CRAWL)
    problems = [f"round {k}: {p}" for k, p in found]
    failed = len({k for k, _ in found})

    def window(traced):
        clock = Clock(seconds, min_ops=BACKLOG_MIN_ROUNDS)
        ops, problems, failed, rounds = [], [], 0, []
        while clock.more():
            eng.state.drop_rounds_after(BACKLOG_SEED_ROUND)
            eng_op = CrawlEngine(spark, pages, robots, sd, BACKLOG_CRAWL)
            t_wall = time.time()
            t0 = time.perf_counter()
            if traced:
                rounds += traced_pass(spark, tracer, eng_op, {"resume": True}, sd)
            else:
                eng_op.run(resume=True)
            dt = time.perf_counter() - t0
            clock.add(dt)
            ops.append({"wall": dt, "round": _round_stats(eng_op, BACKLOG_ROUND, t_wall)})
            found = _check_backlog(sd, [BACKLOG_ROUND], robots_rows, BACKLOG_CRAWL)
            problems += [f"round {k}: {p}" for k, p in found]
            failed += bool(found)
        return ops, problems, failed, eng_op, rounds

    ops, w_problems, w_failed, eng_u, _ = window(traced=False)
    result = {
        "setup_s": build,
        "warmup_s": warmup,
        "attempted": 1 + len(ops),
        "failed": failed + w_failed,
        "problems": problems + w_problems,
        "e2e": e2e_from_rounds([op["round"] for op in ops]),
        "op_walls": [op["wall"] for op in ops],
        "state_bytes_per_url": state_bytes_per_url(eng_u, sd, BACKLOG_ROUND),
    }
    if tracer is not None:
        t_ops, t_problems, t_failed, eng_t, rounds = window(traced=True)
        result["attempted"] += len(t_ops)
        result["failed"] += t_failed
        result["problems"] += t_problems
        layers = commit_layer_metrics(tracer, rounds)
        layers["state.bytes_per_url"] = state_bytes_per_url(eng_t, sd, BACKLOG_ROUND)
        layers.update(replay_layers(tracer, eng_t, pages, robots, BACKLOG_CRAWL, BACKLOG_ROUND))
        layers.update(replay_compaction(tracer, eng_t, sd, BACKLOG_ROUND))
        result["layers"] = layers
        result["traced_pass_s"] = e2e_from_rounds([op["round"] for op in t_ops])["pass_s"]
    pages.unpersist()
    robots.unpersist()
    return result
