"""The workloads. Each one has

- ``prepare()``: the repeatable set-up, run several times; returns the
  seconds it measured;
- ``warm_up()``: once, after the last ``prepare()``;
- ``step(traced)``: one unit of measured work (a cold build plus a
  change-one-then-no-op cycle on a copy restored from the set-up template,
  or a full query pass) made of timed ops;
- ``finish()``: checks that need the whole run (the DuckDB oracles).

Correctness checks run outside the timed ops and mark the op failed.
Nothing is deleted during a run: on disks that discard freed blocks,
unlinking files that were fsynced costs tens of milliseconds each, so every
set-up and every cold build gets a directory of its own instead.
"""

from __future__ import annotations

import gc
import itertools
import os
import random
import shutil
import time

import numpy as np

import fwgraph
from artigraph_spark.executors import LocalSparkExecutor

PARTITIONS = 8
ROWS_PER_PARTITION = 500
# The repository's sf 0.01 fixture tables (seed 42), the scale its DuckDB
# oracle gate runs at, copied here so a run reads nothing outside the tree.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class Workload:
    min_steps = 1

    def __init__(self, harness, workdir: str, seed: int) -> None:
        self.h = harness
        self.spark = harness.spark
        self.workdir = workdir
        self.seed = seed
        self._dirs = itertools.count()

    def new_dir(self, prefix: str) -> str:
        return os.path.join(self.workdir, f"{prefix}-{next(self._dirs)}")

    def prepare(self) -> float:
        return 0.0

    def warm_up(self) -> None:
        pass

    def step(self, traced: bool) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def catalog_bytes(self) -> int:
        return 0


# --- framework workload ----------------------------------------------------


class Framework(Workload):
    """Each step: a cold snapshot+build into an empty root and catalog
    (``cold``), then, on a copy of the graph pre-built in set-up and
    restored for the step, one changed raw partition rebuilt
    (``change_one``, 2 builds) and a rebuild with nothing changed (``noop``,
    0 builds). The restore makes every step start from the same catalog, so
    no figure depends on how many steps fit in the window."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.rng = np.random.default_rng([self.seed, 1])

    def _build(self, kind: str, root: str, traced: bool, expect: tuple[int, int], sync=True):
        """Snapshot and build the graph at ``root`` as one timed op, then
        check the built/skipped counts and the rollup value."""
        with self.h.op(kind, traced, sync=sync) as op:
            graph, totals = fwgraph.make_graph(root, self.spark)
            ex = LocalSparkExecutor()
            snap = graph.snapshot().build(ex)
        if not op.ok:
            return None
        op.built, op.skipped = ex.built_partitions, ex.skipped_partitions
        if (op.built, op.skipped) != expect:
            op.fail(f"{kind}: built/skipped {(op.built, op.skipped)} != {expect}")
        elif fwgraph.built_totals(graph, snap.snapshot_id, totals) != fwgraph.expected_totals(
            root, PARTITIONS
        ):
            op.fail(f"{kind}: rollup differs from the pyarrow sum over raw data")
        return snap

    def _fresh(self, prefix: str) -> str:
        root = self.new_dir(prefix)
        fwgraph.generate_raw(root, PARTITIONS, ROWS_PER_PARTITION, self.seed)
        return root

    def prepare(self) -> float:
        """Build the template graph and restore a working copy of it."""
        t0 = time.perf_counter()
        self.work = self._fresh("work")
        self._build("template", self.work, False, (PARTITIONS + 1, 0), sync=False)
        # Built in place so the catalog's paths hold after the copy back.
        self.template = self.work + ".template"
        os.rename(self.work, self.template)
        self.restore()
        return time.perf_counter() - t0

    def restore(self) -> None:
        """Put a fresh copy of the template at the working path; the used
        copy is moved aside, not deleted (see the module docstring)."""
        if os.path.exists(self.work):
            os.rename(self.work, self.new_dir("used"))
        shutil.copytree(self.template, self.work)

    def step(self, traced: bool) -> None:
        self._build("cold", self._fresh("cold"), traced, (PARTITIONS + 1, 0))
        self.restore()
        j = int(self.rng.integers(PARTITIONS))
        fwgraph.write_raw_partition(
            self.work, j, ROWS_PER_PARTITION, int(self.rng.integers(2**31))
        )
        changed = self._build("change_one", self.work, traced, (2, PARTITIONS - 1))
        same = self._build("noop", self.work, traced, (0, PARTITIONS + 1))
        if changed and same and same.snapshot_id != changed.snapshot_id:
            self.h.ops[-1].fail("noop: snapshot id moved with no raw change")

    def catalog_bytes(self) -> int:
        return os.path.getsize(os.path.join(self.work, "catalog.json"))


# --- query suite ------------------------------------------------------------


class QuerySuite(Workload):
    """The registry's bench=True queries, each run into the JVM noop sink."""

    # A pass takes most of the window; the median needs more than one.
    min_steps = 2

    def __init__(self, *args) -> None:
        super().__init__(*args)
        from artigraph_spark.queries import REGISTRY, bench_queries

        # The inputs are the fixed fixture tables; the seed sets the order
        # the queries run in, the same in every pass of the run.
        self.queries = sorted(bench_queries().items())
        random.Random(self.seed).shuffle(self.queries)
        self.data = QUERY_DATA
        self.oracles = {name: REGISTRY[name].oracle for name, _ in self.queries}
        self.results: dict[str, tuple[list[str], list]] = {}
        self.warm_ops: dict = {}
        self.query_s: dict[str, list[float]] = {name: [] for name, _ in self.queries}

    def warm_up(self) -> None:
        """One pass that collects every result for the oracle check."""
        for name, fn in self.queries:
            with self.h.op(f"warm_up:{name}", False) as op:
                df = fn(self.spark, self.data)
                self.results[name] = (df.columns, df.collect())
            self.warm_ops[name] = op
            df = None
            gc.collect()
        # Everything alive now (modules, the session) stays alive: moving it
        # out of the collector's sight makes the collections between
        # measured queries cost milliseconds instead of ~0.1 s each.
        gc.freeze()

    def step(self, traced: bool) -> None:
        tracer = self.h.tracer
        with self.h.op("pass", traced, sync=True) as op:
            total = 0.0
            for name, fn in self.queries:
                self.h.group(name)
                t0 = time.perf_counter()
                with tracer.span("queries.construct"):
                    df = fn(self.spark, self.data)
                with tracer.span("queries.action"):
                    df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                total += dt
                if traced:
                    self.query_s[name].append(dt)
                del df
                gc.collect()
        # The pass time is the queries' own time, without the GC between them.
        op.seconds = total

    def finish(self) -> None:
        """Each collected result against its DuckDB oracle, compared the
        way tools/check_oracle.py does: column names, then rows rendered
        order-insensitively, with the oracle fetched through arrow."""
        import duckdb
        from check_oracle import canon_rows

        from artigraph_spark.sources import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(self.data, t)}.parquet')"
            )
        for name, _fn in self.queries:
            sql = self.oracles[name]
            if sql is None or name not in self.results:
                continue
            cols, rows = self.results[name]
            op = self.warm_ops[name]
            try:
                table = con.sql(sql).fetch_arrow_table()
            except duckdb.Error as e:
                op.fail(f"{name}: DuckDB oracle failed: {e}")
                continue
            ocols = table.column_names
            orows = [tuple(rec[c] for c in ocols) for rec in table.to_pylist()]
            if sorted(cols) != sorted(ocols):
                op.fail(f"{name}: columns {sorted(cols)} != oracle's {sorted(ocols)}")
            elif canon_rows(cols, [tuple(r) for r in rows]) != canon_rows(ocols, orows):
                op.fail(f"{name}: result differs from the DuckDB oracle")
        con.close()


WORKLOADS = {"fw": Framework, "query_suite": QuerySuite}
