"""The workloads. Each is one closed-loop client in one process.

A workload has ``setup()`` (untimed by the loop, counted in ``setup_s``),
``cycle(i)`` (one unit of repeated work, made of timed steps) and
``check(i)`` (correctness of that cycle, outside every timed window).
Steps call the package only through its public functions, each inside a
tracer span named after the layer it enters.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

from pyspark.sql import functions as F

from olist_data_warehouse_spark.plans import queries, star
from olist_data_warehouse_spark.plans.incremental import incremental_new_rows
from olist_data_warehouse_spark.plans.queries import REGISTRY
from olist_data_warehouse_spark.sources import lakehouse
from olist_data_warehouse_spark.sources.lakehouse import LakeTable
from olist_data_warehouse_spark.sources.readers import load_testdata

import oracle

STAGING = ("orders", "lineitem", "part", "supplier", "nation", "region")
GRAIN = ["date_key", "location_key", "product_key", "seller_id"]
FACT_COLS = GRAIN + ["sales_total", "sales_quantity"]
DIMS = ("product_dim", "location_dim", "time_period")
# The paired report's year (the registry's q1 entries fix it).
REPORT_YEAR = 1998


def _ts(day: dt.date):
    return F.lit(str(day)).cast("timestamp")


class Workload:
    """Shared plumbing: the run context and one timed call per layer."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.rng = random.Random(ctx.seed)
        self.data = ctx.data_dir

    def fail(self, what: str) -> None:
        self.ctx.failures.append(f"{self.name}: {what}")

    def run_entry(self, name: str, sf_dir: str):
        """fn() under the queries layer, then collect() under exec;
        returns the normalized rows."""
        with self.tr.span(name, "queries"):
            df = REGISTRY[name].fn(self.spark, sf_dir)
        with self.tr.span(name, "exec"):
            rows = [tuple(r) for r in df.collect()]
        return oracle.normalize(df.columns, rows)



# ---------------------------------------------------------------------------
# warehouse_etl: cold star build, daily incremental loads, paired reports
# ---------------------------------------------------------------------------


class WarehouseEtl(Workload):
    """The reference pipeline end to end: E2 builds the star from staging
    into a fresh location, E3 lands a seeded daily batch into the fact,
    and the paired top-5 reports answer the same questions from the OLTP
    tables (registry builders) and from the landed warehouse."""

    name = "warehouse_etl"
    # One daily batch per cycle keeps three cycles inside a run's time
    # budget; it replays the cold build's last day, which the
    # incremental anti-join must drop.
    n_batches = 1
    # One report pair keeps a run inside its time budget; q2 differs from
    # q1 only in the measure.
    oltp, dw = "q1_top_units_oltp", "q1_top_units_dw"

    def __init__(self, ctx):
        super().__init__(ctx)
        # Seed semantics: the first day the loads add (D0, after the
        # report year, so the cold build holds all of it) and the length
        # of each daily batch.
        d0 = dt.date(1999, 3, 1) + dt.timedelta(days=self.rng.randrange(0, 550))
        self.batches: list[list[dt.date]] = []
        prev = d0 - dt.timedelta(days=1)
        for _ in range(self.n_batches):
            k = self.rng.randrange(2, 5)
            # each batch replays the last day already loaded
            days = [prev + dt.timedelta(days=j) for j in range(k + 1)]
            self.batches.append(days)
            prev = days[-1]
        self.d0 = d0
        self.last = prev

    def setup(self) -> None:
        last = self.last.year * 10000 + self.last.month * 100 + self.last.day
        with self.ctx.checking():
            self.expected_fact = oracle.duckdb_rows(
                self.data,
                f"{queries.SQL_STAR}\nSELECT {', '.join(FACT_COLS)} "
                f"FROM sales_fact WHERE date_key <= {last}",
            )
            # each form against its own registry oracle: the star keeps
            # only non-excluded order statuses, the OLTP form all of them
            self.expected_report = {
                form: oracle.duckdb_rows(self.data, REGISTRY[form].oracle)
                for form in (self.oltp, self.dw)
            }
        self.cycle(-1)  # warm-up cycle, checked like any other
        with self.ctx.checking():
            self.check(-1)

    def _loc(self, i: int) -> str:
        return os.path.join(self.ctx.work_dir, f"etl_{i + 1}")

    def _build(self, loc: str):
        tr, spark = self.tr, self.spark
        with tr.span("load_testdata", "readers"):
            t = load_testdata(spark, self.data, STAGING)
        with tr.span("star_build", "star"):
            dims = {
                "product_dim": star.build_product_dim(t["part"]),
                "location_dim": star.build_location_dim(t["nation"], t["region"]),
                "time_period": star.build_time_period(t["orders"]),
            }
            for name in DIMS:
                p = os.path.join(loc, name)
                dims[name].write.parquet(p)
                dims[name] = spark.read.schema(dims[name].schema).parquet(p)
            fact = self._fact(t, dims, F.col("o_orderdate") < _ts(self.d0))
        with tr.span("LakeTable.create", "lake"):
            table = LakeTable.create(fact, os.path.join(loc, "sales_fact"))
        return t, dims, table

    @staticmethod
    def _fact(t, dims, order_filter):
        return star.build_sales_fact(
            t["orders"].filter(order_filter), t["lineitem"], t["part"],
            t["supplier"], t["nation"], t["region"],
            dims["product_dim"], dims["location_dim"], dims["time_period"],
        ).select(*FACT_COLS)

    def _land(self, t, dims, table, days) -> None:
        tr, spark = self.tr, self.spark
        with tr.span("build_sales_fact", "star"):
            delta = self._fact(
                t, dims,
                (F.col("o_orderdate") >= _ts(days[0]))
                & (F.col("o_orderdate") < _ts(days[-1] + dt.timedelta(days=1))),
            )
        with tr.span("LakeTable.read", "lake"):
            loaded = table.read(spark)
        with tr.span("incremental_new_rows", "incremental"):
            new = incremental_new_rows(delta, loaded)
        if tr.enabled:
            before = table.detail()["bytes"]
        with tr.span("LakeTable.merge_into", "lake") as sp:
            for _ in range(5):
                try:
                    table.merge_into(spark, new, keys=GRAIN, when_matched="keep")
                    break
                except lakehouse.ConcurrentCommitError:
                    sp.counters["occ_retries"] += 1
            else:
                raise RuntimeError("merge_into lost the commit race 5 times")
        if tr.enabled:
            # what the commit added, read from the log after the timed call
            sp.counters["files_added"] += table.history(limit=1)[0]["added"]
            sp.counters["bytes_added"] += table.detail()["bytes"] - before

    def _report_dw(self, dims, table):
        """``q1_top_units_dw``'s plan shape over the landed fact."""
        tr, spark = self.tr, self.spark
        with tr.span("LakeTable.read", "lake"):
            f = table.read(spark)
        df = (
            f.join(F.broadcast(dims["time_period"]), "date_key")
            .join(F.broadcast(dims["location_dim"]), "location_key")
            .join(F.broadcast(dims["product_dim"]), "product_key")
            .filter(F.col("year") == REPORT_YEAR)
            .groupBy("year", "seller_id", "state", "product")
            .agg(F.sum("sales_quantity").alias("total_units"))
            .orderBy(F.desc("total_units"), "seller_id", "state", "product")
            .limit(5)
        )
        with tr.span("collect", "exec"):
            rows = [tuple(r) for r in df.collect()]
        return oracle.normalize(df.columns, rows)

    def cycle(self, i: int) -> None:
        step = self.ctx.step
        with step("etl_build"):
            t, dims, table = self._build(self._loc(i))
        for days in self.batches:
            with step("etl_land"):
                self._land(t, dims, table, days)
        self._got = {}
        with step(self.oltp):
            self._got[self.oltp] = self.run_entry(self.oltp, self.data)
        with step(self.dw):
            self._got[self.dw] = self._report_dw(dims, table)
        self._table = table

    def check(self, i: int) -> None:
        ctx = self.ctx
        landed_df = self._table.read(self.spark).select(*FACT_COLS)
        landed = oracle.spark_rows(landed_df)
        if self.tr.enabled:
            ctx.gauges["lake.files_live"] = self._table.detail()["num_files"]
        ctx.attempted += 1
        n_keys = landed_df.select(*GRAIN).distinct().count()
        if landed != self.expected_fact or n_keys != len(landed):
            ctx.failed += 1
            self.fail(
                f"cycle {i}: landed fact ({len(landed)} rows, {n_keys} keys) "
                f"differs from the one-shot fact ({len(self.expected_fact)} rows)"
            )
        for form, want in self.expected_report.items():
            ctx.attempted += 1
            if self._got[form] != want or len(want) != 5:
                ctx.failed += 1
                self.fail(f"cycle {i}: {form} differs from the DuckDB oracle")
        shutil.rmtree(self._loc(i), ignore_errors=True)


# ---------------------------------------------------------------------------
# llm_curation: the corpus-curation entries, each pass on a fresh path
# ---------------------------------------------------------------------------


class LlmCuration(Workload):
    name = "llm_curation"
    # Persisted shingle frames (minhash, n-gram), the shuffle-heavy n-gram
    # self-join and eager centroid training in fn() (IVF). Further entries,
    # or the slower PQ codebook training, would leave too few passes per
    # run inside the benchmark's time budget for a steady median.
    entries = (
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "sim_ivf_topk_mp",
    )

    def _fresh_path(self, i: int) -> str:
        """A new directory of links to the corpus: no plan of an earlier
        pass (Spark's cache manager, the package's persisted frames) can
        match a scan of it."""
        p = os.path.join(self.ctx.work_dir, f"pass_{i + 1}")
        os.makedirs(p)
        for f in os.listdir(self.data):
            os.symlink(os.path.join(self.data, f), os.path.join(p, f))
        return p

    def setup(self) -> None:
        self.first: dict[str, str] = {}
        self.cycle(-1)
        with self.ctx.checking():
            for n, rows in self._got.items():
                self.ctx.attempted += 1
                want = oracle.duckdb_rows(self.data, REGISTRY[n].oracle)
                if rows != want or not rows:
                    self.ctx.failed += 1
                    self.fail(f"{n}: first pass differs from the DuckDB oracle")
                self.first[n] = oracle.digest(rows)

    def cycle(self, i: int) -> None:
        path = self._fresh_path(i)
        order = list(self.entries)
        self.rng.shuffle(order)
        self._got = {}
        for n in order:
            with self.ctx.step(n):
                self._got[n] = self.run_entry(n, path)

    def check(self, i: int) -> None:
        for n, rows in self._got.items():
            self.ctx.attempted += 1
            if oracle.digest(rows) != self.first[n]:
                self.ctx.failed += 1
                self.fail(f"{n} pass {i}: result hash differs from the first pass")


WORKLOADS = {w.name: w for w in (WarehouseEtl, LlmCuration)}
