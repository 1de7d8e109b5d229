"""The declared query registry, built and collected one query at a time,
each result checked against its DuckDB oracle.

A run covers a fixed slice of the registry, ``SAMPLE``: one query of every
family, so every family is measured and the slice is the same on every run.
The inputs are the sf0.01 tables under ``perfbench/data``.

The oracle results are kept as digests of their normalised rows in
``oracles.json``: DuckDB takes up to 10 s for a single oracle here, more
than a run can spend. Regenerate the file after changing the inputs or an
oracle with ``python3 -m perfbench.registry`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Sequence
from dataclasses import dataclass, field

from execute_sync_spark.plans import workload

from perfbench.spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLE_FILE = os.path.join(HERE, "oracles.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

# family -> name prefixes, tested in this order
FAMILIES = (
    ("ingest", ("ingest_",)),
    ("streaming", ("stream_",)),
    ("functions.dedupe", ("dedup_",)),
    ("functions.similarity", ("sim_",)),
    ("functions.text", ("text_",)),
    ("functions.curation", ("curate_",)),
    ("functions.graph", ("graph_",)),
    ("functions.multimodal", ("mm_",)),
    ("operators", ("d1_", "d2_", "d3_", "d_", "v_")),
    ("plans.sql", ("q",)),
)
FAMILY_NAMES = tuple(f for f, _ in FAMILIES)

# Each family's query at the lower quartile of cost, so that a pass stays
# short enough to repeat within a run: every declared query was built and
# collected twice in one session at local[4], and the family's queries
# were ranked by the second time. A warm pass of the sample takes about
# 7 s, of the whole registry about 140 s.
SAMPLE = (
    "curate_pack_sequences",
    "v_explode_tokens",
    "ingest_roundtrip",
    "graph_label_propagation",
    "text_corpus_stats",
    "dedup_simhash",
    "sim_cosine_topk",
    "q_pivot_status",
    "stream_sliding_counts",
    "mm_resize_plan",
)


def family(name: str) -> str:
    for fam, prefixes in FAMILIES:
        if name.startswith(prefixes):
            return fam
    raise ValueError(f"query {name!r} belongs to no family")


def declared() -> dict:
    """Every declared query, in registry order."""
    return {**workload.QUERIES, **workload.BENCH_EXTRA_QUERIES}


def normalise(pdf) -> tuple[tuple[str, ...], tuple[str, ...], list[str]]:
    """A result as the repository's correctness gate (``tools/check_gate.py``)
    compares it: the column names sorted, each column's dtype, and the
    sorted reprs of the rows. Like the gate it widens only int8/16/32 to
    int64 and every timestamp resolution to microseconds; int against float
    and any difference in a value stay differences."""
    pdf = pdf.copy()
    for c in pdf.columns:
        kind = str(pdf[c].dtype)
        if kind.startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif kind in ("int8", "int16", "int32"):
            pdf[c] = pdf[c].astype("int64")
    cols = sorted(pdf.columns)
    dtypes = tuple(str(pdf[c].dtype) for c in cols)
    rows = sorted(map(repr, pdf[cols].itertuples(index=False, name=None)))
    return tuple(cols), dtypes, rows


def digest(result: tuple[tuple[str, ...], tuple[str, ...], list[str]]) -> str:
    return hashlib.sha256(repr(result).encode()).hexdigest()[:16]


def oracle_digests() -> dict[str, str]:
    """Digest of DuckDB's normalised result for every query with an oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
        out = {}
        for name in declared():
            sql = workload.ORACLES.get(name)
            if sql is not None:
                out[name] = digest(normalise(con.execute(sql).df()))
        return out
    finally:
        con.close()


def load_oracles() -> dict[str, str]:
    with open(ORACLE_FILE) as f:
        return json.load(f)["digests"]


@dataclass
class PassResult:
    wall_s: float = 0.0
    op_ms: dict[str, float] = field(default_factory=dict)  # query -> ms
    attempted: int = 0
    errors: list[str] = field(default_factory=list)
    plan_ms: dict[str, float] = field(default_factory=dict)  # per family, traced passes only
    root_span: int | None = None
    collected: list = field(default_factory=list)  # (name, pandas result) until ``check``

    @property
    def failed(self) -> int:
        return len(self.errors)  # one per query at most


def _plan_ms(df) -> float:
    """Analysis, optimization and planning time Spark recorded for ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        found = phases.get(phase)
        if found.isDefined():
            total += found.get().durationMs()
    return total


def run_pass(spark, names: Sequence[str], tracer: Tracer) -> PassResult:
    """Build and collect every query of ``names`` once; ``check`` compares
    the results afterwards."""
    fns = declared()
    res = PassResult()
    t0 = time.perf_counter()
    with tracer.span("bench.job") as root:
        for name in names:
            fam = family(name)
            res.attempted += 1
            try:
                a = time.perf_counter()
                with tracer.span(f"plans.construct.{fam}"):
                    df = fns[name](spark, DATA_DIR)
                b = time.perf_counter()
                with tracer.span(f"plans.collect.{fam}"):
                    pdf = df.toPandas()
                c = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failing query is a counted error
                res.errors.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            res.op_ms[name] = (c - a) * 1000
            if tracer.enabled:
                with tracer.span("bench.inspect"):
                    res.plan_ms[fam] = res.plan_ms.get(fam, 0.0) + _plan_ms(df)
            res.collected.append((name, pdf))
    res.wall_s = time.perf_counter() - t0
    res.root_span = root.id if root is not None else None
    return res


def check(res: PassResult, oracles: dict[str, str]) -> None:
    """Compare a pass's results with the oracle digests, outside every timed
    span: a mismatch is an error, and a query without an oracle must at
    least return rows."""
    for name, pdf in res.collected:
        got = normalise(pdf)
        want = oracles.get(name)
        if want is None:
            if not got[2]:
                res.errors.append(f"{name}: empty result (no oracle)")
        elif digest(got) != want:
            res.errors.append(f"{name}: differs from its oracle ({len(got[2])} rows)")
    res.collected = []


if __name__ == "__main__":
    import duckdb
    import pandas

    with open(ORACLE_FILE, "w") as f:
        json.dump({"inputs": "data/sf0.01", "duckdb": duckdb.__version__, "pandas": pandas.__version__,
                   "digests": oracle_digests()},
                  f, indent=1, sort_keys=True)
        f.write("\n")
