"""The benchmark's two workloads.

Each workload is a closed loop driven by one client: an op starts only
after the previous one returns.  A *pass* is one run through the
workload's op list; a run measures whole passes.

``convert``
    Seeded changeset-XML shards converted, one op per shard, to Snappy
    Parquet by ``sources.changesets.convert``.  This is the reference's
    whole job; it loads ``sources`` and the Parquet writer and touches no
    catalog, query, operator or streaming code.  Each shard is plain XML
    far below Spark's 128 MB split size, so it runs as one task on one
    of four cores: a parallelism fix shows here and nowhere else.
``query-mix``
    The read path over the bundled tables: five of ``bench.py``'s tier-1
    batch queries.  One op is the call to the registered function (the
    "build": the eager observe gates, checkpoints and probes of the
    iterative queries) plus a noop-sink write (the "exec").  Driver-side
    planning work shows here and not on ``convert``.  The traced run
    adds two streaming jobs, run to completion once each: s24 keeps its
    state in the Python ``applyInPandasWithState`` path and s4a keeps
    JVM-side state, so s4a is the control that a Python-state change
    should leave flat.  They are not in the timed passes: each takes
    5-17 s, varies by 2x from one run to the next, and a run has room
    for one of each, so they would swamp the gated figures.

What a workload runs is sized so that a run ends within about a minute:
every run starts a JVM, sets up three times and warms up for 10-20 s
before it times anything.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from dataclasses import dataclass

import oracle
import xmlgen

# Spark runs local[CORES]; the host the benchmark was sized on has 4.
CORES = 4

# Changesets per convert shard (~3 MB of XML) and shards per pass.
SHARD_CHANGESETS = 10_000
SHARDS_PER_PASS = 3
# Checked passes converted as warm-up: convert times keep falling for
# dozens of ops after the JVM starts, and a run should time the plateau.
CONVERT_WARMUP_PASSES = 6
# Passes of the batch queries in their timed form (noop sink) after the
# checked warm-up pass: their times keep falling for a few passes.
QUERY_WARMUP_PASSES = 1

# bench.py tier-1 batch queries: a four-way join with aggregation (q10);
# Python-worker kernels (m48, q110); and the build-heavy iterative
# queries whose eager gates and probes run on the driver (q68b, q116).
BATCH_QUERIES = [
    "q10_join4_revenue",
    "m48_image_decode_features",
    "q110_simhash_neardup",
    "q68b_neardup_clusters_lsh",
    "q116_hierarchy_closure",
]

# Streaming jobs over the 5-file events replay, run by the traced run
# after its timed passes, in this order: s4a pays the streaming engine's
# first-use cost the same way in every run, then s24.
STREAM_JOBS = [
    "s4a_watermark_ontime",
    "s24_stream_pit_enrich",
]


@dataclass
class OpResult:
    ok: bool
    detail: str = ""


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark) -> None:
    """One tiny pandas job on every core, which starts the context's
    Python workers (each new SparkContext starts its own)."""
    df = spark.range(0, 4 * CORES, 1, CORES)
    noop_write(df.mapInPandas(lambda it: it, df.schema))


class Workload:
    """Defaults the workloads override: nothing extra when tracing."""

    # Passes run as timed ops would be, checked but not timed, after
    # ``warmup_ops``.
    warm_passes = 0

    def warmup_ops(self) -> list:
        """Ops run once each through ``warmup_check`` before the warm passes."""
        return []

    def traced_extra(self, spark, op, tracer) -> None:
        pass

    def traced_prep(self, spark, tracer) -> None:
        pass

    def traced_ops(self) -> list:
        """Ops the traced run adds after its timed passes."""
        return []


class ConvertWorkload(Workload):
    name = "convert"
    warm_passes = CONVERT_WARMUP_PASSES

    def __init__(self, seed: int, data_dir: str) -> None:
        self.seed = seed
        self.shards: list[tuple[str, xmlgen.Aggregates]] = []
        self.out_seq = 0
        # totals over every checked output, for files and bytes per row
        self.out_count = 0
        self.out_bytes = 0
        self.out_files = 0
        self.out_rows = 0

    def prep(self, spark, tracer) -> None:
        """Generate and write the pass's shards into a fresh directory."""
        with tracer.span("prep.generate_shards"):
            d = tempfile.mkdtemp(prefix="shards_")
            self.shards = []
            for k in range(SHARDS_PER_PASS):
                shard = xmlgen.make_shard(self.seed, k, SHARD_CHANGESETS)
                path = os.path.join(d, f"shard_{k}.xml")
                with open(path, "wb") as f:
                    f.write(shard.xml)
                self.shards.append((path, shard.expected))

    def pass_ops(self, pass_idx: int) -> list[int]:
        return list(range(len(self.shards)))

    def op_label(self, op) -> str:
        return f"shard_{op}"

    def run_op(self, spark, op, tracer):
        from osm_changesets_to_parquet_spark.sources import changesets

        path, _ = self.shards[op]
        self.out_seq += 1
        out = os.path.join(tempfile.gettempdir(), f"convert_out_{self.out_seq}")
        with tracer.span("sources.convert"):
            rows = changesets.convert(spark, path, out)
        return out, rows

    def check(self, spark, op, handle) -> OpResult:
        """Row count and DuckDB aggregates of the written Parquet against
        the generator's; the output is deleted afterwards."""
        import duckdb

        out, rows = handle
        expected = self.shards[op][1]
        try:
            problems = []
            if rows != expected.rows:
                problems.append(f"returned rows {rows} != {expected.rows}")
            files = [f for f in os.listdir(out) if f.endswith(".parquet")]
            got = xmlgen.aggregates_from_row(
                duckdb.sql(xmlgen.CHECK_SQL.format(glob=os.path.join(out, "*.parquet"))).fetchone()
            )
            problems += expected.mismatches(got)
            self.out_count += 1
            self.out_files += len(files)
            self.out_bytes += sum(os.path.getsize(os.path.join(out, f)) for f in files)
            self.out_rows += expected.rows
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return OpResult(not problems, "; ".join(problems))

    def op_rows(self, op) -> int:
        return self.shards[op][1].rows

    def traced_extra(self, spark, op, tracer) -> None:
        """Traced run only: the read half of a convert, to a noop sink."""
        from osm_changesets_to_parquet_spark.sources import changesets

        with tracer.span("sources.read_noop"):
            noop_write(changesets.read_changesets_xml(spark, self.shards[op][0]))


class QueryMixWorkload(Workload):
    name = "query-mix"
    warm_passes = QUERY_WARMUP_PASSES

    def __init__(self, seed: int, data_dir: str) -> None:
        from osm_changesets_to_parquet_spark import queries as Q

        self.seed = seed
        self.data_dir = data_dir
        self.fns = Q.queries()
        self.expected = oracle.load_expected()
        self.input_rows = self._input_rows()

    def _input_rows(self) -> dict[str, int]:
        """Rows of the tables each name declares, from the Parquet footers."""
        import pyarrow.parquet as pq

        from osm_changesets_to_parquet_spark.queries import REGISTRY

        return {
            name: sum(
                pq.read_metadata(os.path.join(self.data_dir, f"{t}.parquet")).num_rows
                for t in REGISTRY[name].tables
            )
            for name in BATCH_QUERIES + STREAM_JOBS
        }

    def prep(self, spark, tracer) -> None:
        from osm_changesets_to_parquet_spark import catalog

        with tracer.span("catalog.load_all"):
            catalog.load_all(spark, self.data_dir)

    def traced_prep(self, spark, tracer) -> None:
        """The streaming jobs' replay fixture, made in the traced context
        (a fresh temp dir, so it is never a cached one)."""
        from osm_changesets_to_parquet_spark import streaming

        with tracer.span("streaming.prepare_replay_dir"):
            streaming.prepare_replay_dir(spark, self.data_dir, late=False)

    def traced_ops(self) -> list[str]:
        return list(STREAM_JOBS)

    def _batch_order(self, pass_idx: int) -> list[str]:
        order = list(BATCH_QUERIES)
        random.Random(f"perfbench-order-{self.seed}-{pass_idx}").shuffle(order)
        return order

    def pass_ops(self, pass_idx: int) -> list[str]:
        """The batch queries in an order drawn from the seed."""
        return self._batch_order(pass_idx)

    def warmup_ops(self) -> list[str]:
        """One pass of the batch queries with their results collected and
        checked; the first executions are about twice as slow as later
        ones."""
        return self._batch_order(-1)

    def op_label(self, op) -> str:
        return op

    def op_rows(self, op) -> int:
        return self.input_rows[op]

    def run_op(self, spark, op, tracer):
        with tracer.span("queries.build"):
            df = self.fns[op](spark, self.data_dir)
        with tracer.span("exec.noop"):
            noop_write(df)
        return df

    def check_frame(self, op, pdf) -> OpResult:
        rows, digest = oracle.result_hash(pdf)
        want = self.expected[op]
        if rows == want["rows"] and digest == want["sha256"]:
            return OpResult(True)
        return OpResult(
            False,
            f"{op}: {rows} rows sha {digest[:12]} != {want['rows']} rows sha {want['sha256'][:12]}",
        )

    def check(self, spark, op, df) -> OpResult:
        """A streaming job's result reads the stream's sink, so collecting
        it again is a small read and every such op is checked.  A batch
        query would run again, which would double the run, so each is
        checked once per run, on its warm-up execution."""
        if op in STREAM_JOBS:
            return self.check_frame(op, df.toPandas())
        return OpResult(True)

    def warmup_check(self, spark, op, tracer) -> OpResult:
        return self.check_frame(op, self.fns[op](spark, self.data_dir).toPandas())


WORKLOADS = {w.name: w for w in (ConvertWorkload, QueryMixWorkload)}
