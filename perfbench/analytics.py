"""The ``analytics_mix`` workload: a fixed mix of ``queries()`` entries
run in passes over a small generated corpus, read-only.

The tables are generated from a fixed seed, so the result of every entry
is fixed too: its digest was recorded once from the entry's DuckDB
``oracle_sql()`` twin (``record_digests.py``), or from the Spark result
for the entries that have no twin. The run's ``--seed`` only permutes
the order of the mix within each pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time
from datetime import datetime, timedelta

DATA_SEED = 42
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "analytics_digests.json")

# one entry per analytics module the mix reaches, with the tables it scans
MIX = {
    "q1_pricing_summary": ("lineitem",),      # operators.analytics
    "exact_dedup": ("documents",),            # operators.dedup
    "simhash_pairs": ("documents",),          # operators.dedup (similarity)
    "tfidf_keywords": ("documents",),         # operators.tfidf
    "ner_entities": ("documents",),           # pipeline.entities / perceptron_ner
    "relation_extract": ("documents",),       # pipeline.relations
    "sessionize_native": ("events",),         # streaming session windows
}

VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
N_DOCS = 200
N_EVENTS = 2_000
N_USERS = 40
N_LINEITEMS = 6_000
MIN_PASSES = 2


# ---------------------------------------------------------------------------
# data
# ---------------------------------------------------------------------------


def _documents(rng: random.Random):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.08:
            # a near-duplicate of an earlier document
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    langs = ["en", "en", "fr", "es", "zh", "de"]
    return {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }


def _events(rng: random.Random):
    t0 = datetime(2024, 1, 1)
    ts = sorted(t0 + timedelta(seconds=rng.uniform(0, 30 * 86400)) for _ in range(N_EVENTS))
    types = ["click", "purchase", "error", "signup", "view"]
    return {
        "event_id": list(range(N_EVENTS)),
        "ts": ts,
        "user_id": [rng.randrange(N_USERS) for _ in range(N_EVENTS)],
        "event_type": [rng.choice(types) for _ in range(N_EVENTS)],
        "value": [round(rng.expovariate(1 / 50), 2) for _ in range(N_EVENTS)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(N_EVENTS)],
    }


def _lineitem(rng: random.Random):
    cols = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )}
    base = datetime(1992, 1, 1)
    for _ in range(N_LINEITEMS):
        part = rng.randrange(200)
        qty = float(rng.randint(1, 50))
        ship = base + timedelta(days=rng.randrange(3000))
        cols["l_orderkey"].append(rng.randrange(1500))
        cols["l_partkey"].append(part)
        cols["l_suppkey"].append(rng.randrange(10))
        cols["l_linenumber"].append(rng.randint(1, 7))
        cols["l_quantity"].append(qty)
        cols["l_extendedprice"].append(round(qty * (900 + part / 10), 2))
        cols["l_discount"].append(rng.randint(0, 10) / 100)
        cols["l_tax"].append(rng.randint(0, 8) / 100)
        cols["l_returnflag"].append(rng.choice("ANR"))
        cols["l_linestatus"].append("F" if ship < datetime(1995, 6, 17) else "O")
        cols["l_shipdate"].append(ship)
    return cols


def write_tables(out_dir: str) -> dict[str, int]:
    """Write the fixed corpus as ``<out_dir>/<table>.parquet`` (the layout
    ``queries()`` reads). Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(DATA_SEED)
    schemas = {
        "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string()), ("source", pa.string()),
                                ("n_chars", pa.int64())]),
        "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                             ("user_id", pa.int64()), ("event_type", pa.string()),
                             ("value", pa.float64()), ("props", pa.string())]),
        "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                               ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                               ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                               ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                               ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                               ("l_shipdate", pa.timestamp("us"))]),
    }
    makers = {"documents": _documents, "events": _events, "lineitem": _lineitem}
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, make in makers.items():
        table = pa.Table.from_pydict(make(rng), schema=schemas[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------------
# digests
# ---------------------------------------------------------------------------


def digest(cols: list[str], rows: list[tuple], values: bool = True) -> dict:
    """Order-insensitive result digest: column names, row count and (for
    entries with a value-exact twin) a hash of the rows as the repo's
    oracle gate (``tests/oracle_check.py``) normalizes them."""
    from tests.oracle_check import frame_key

    out = {"cols": sorted(cols), "rows": len(rows)}
    if values:
        out["sha256"] = hashlib.sha256("\n".join(frame_key(rows, cols)).encode()).hexdigest()
    return out


# ---------------------------------------------------------------------------
# workload
# ---------------------------------------------------------------------------


def run_analytics_mix(spark, tmp: str, seed: int, seconds: float, tracer=None) -> dict:
    import __spark_entry__ as entry

    from perfbench.common import Clock, median
    from perfbench.tracing import max_job_id

    data = os.path.join(tmp, "analytics")
    t0 = time.perf_counter()
    table_rows = write_tables(data)
    build = time.perf_counter() - t0
    with open(DIGESTS) as f:
        expected = json.load(f)
    registry = entry.queries()
    order = list(MIX)
    random.Random(seed).shuffle(order)

    def run_query(name: str, traced: bool) -> tuple[float, int, list[str], int]:
        jobs0 = max_job_id(spark) if traced else 0
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"query.{name}"):
                    df = registry[name](spark, data)
                    rows = [tuple(r) for r in df.collect()]
            else:
                df = registry[name](spark, data)
                rows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # a failed entry counts, the pass goes on
            first = (str(ex).splitlines() or [""])[0][:200]
            return time.perf_counter() - t0, 0, [f"{name}: raised {type(ex).__name__}: {first}"], 0
        dt = time.perf_counter() - t0
        jobs = max_job_id(spark) - jobs0 if traced else 0
        want = expected[name]
        got = digest(df.columns, rows, values="sha256" in want)
        problems = [] if got == want else [f"{name}: result digest differs from the oracle"]
        return dt, jobs, problems, len(rows)

    def one_pass(traced: bool, sink: dict):
        for name in order:
            dt, jobs, problems, n_rows = run_query(name, traced)
            rec = sink.setdefault(name, {"s": [], "jobs": [], "rows": 0})
            rec["s"].append(dt)
            rec["jobs"].append(jobs)
            rec["rows"] += n_rows
            sink.setdefault("_problems", []).extend(problems)
            sink["_failed"] = sink.get("_failed", 0) + bool(problems)
            sink["_timed"] = sink.get("_timed", 0.0) + dt

    # warm-up pass: JIT, code generation and Python workers (set-up); its
    # results are checked like any other
    t0 = time.perf_counter()
    warm = {}
    one_pass(False, warm)
    warmup = time.perf_counter() - t0

    def window(traced: bool) -> dict:
        # at least MIN_PASSES passes: a run's figure never rests on one
        # sample of a query, however slow the machine is
        clock, sink, passes = Clock(seconds, min_ops=MIN_PASSES), {}, 0
        while clock.more():
            before = sink.get("_timed", 0.0)
            one_pass(traced, sink)
            clock.add(sink["_timed"] - before)
            sink.setdefault("_pass_walls", []).append(sink["_timed"] - before)
            passes += 1
        sink["_passes"] = passes
        return sink

    def e2e(sink: dict) -> dict:
        """One pass as the sum of per-entry medians, and the result rows
        and scanned table rows of one pass per second of it."""
        pass_s = sum(median(sink[n]["s"]) for n in MIX)
        return {
            "pass_s": pass_s,
            "output_rows_per_s": sum(sink[n]["rows"] / len(sink[n]["s"]) for n in MIX) / pass_s,
            "input_rows_per_s": sum(table_rows[t] for n in MIX for t in MIX[n]) / pass_s,
        }

    sink = window(False)
    result = {
        "setup_s": build,
        "warmup_s": warmup,
        "attempted": (1 + sink["_passes"]) * len(MIX),
        "failed": warm["_failed"] + sink["_failed"],
        "problems": warm["_problems"] + sink["_problems"],
        "e2e": e2e(sink),
        "op_walls": sink["_pass_walls"],
    }
    if tracer is not None:
        t_sink = window(True)
        result["attempted"] += t_sink["_passes"] * len(MIX)
        result["failed"] += t_sink["_failed"]
        result["problems"] += t_sink["_problems"]
        layers = {}
        for n in MIX:
            layers[f"query.{n}_s"] = median(t_sink[n]["s"])
            layers[f"query.{n}_spark_jobs"] = statistics.median(t_sink[n]["jobs"])
        result["layers"] = layers
        result["traced_pass_s"] = e2e(t_sink)["pass_s"]
    return result
