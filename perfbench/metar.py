"""``metar_ingest``: the paper's DAG cycle — collect, stg → ods → int →
dwh, then the dbt-style assertions — on a lake pre-seeded with history.

The correctness model is an independent pure-Python replay of the four
dbt contracts on the generated documents: stg strict ``>`` watermark
and merge by id, ods digits-only id filter with inclusive ``>=``
watermark and append (boundary rows re-append), int strict watermark
and latest-per-icao by (observed, id), dwh inclusive date watermark and
merge by icao_date where the larger day count wins.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from decimal import ROUND_HALF_UP, Decimal

from gen import MetarGen, bronze_id
from harness import tree_usage

N_STATIONS = 500
OBS_PER_BATCH = 4  # 30-minute slots per cycle: 2,000 fresh docs
HISTORY_SLOTS = 8  # pre-seeded history: two batches' worth
WARMUP_CYCLES = 1


def _ts(s: str) -> dt.datetime:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S")


def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


class MetarModel:
    def __init__(self) -> None:
        self.stg: "dict[str, dict]" = {}
        self.stg_wm = None
        self.ods: "list[dict]" = []
        self.ods_wm = None
        self.int: "dict[str, dict]" = {}
        self.int_wm = None
        self.dwh: "dict[tuple, tuple]" = {}
        self.dwh_wm = None
        self.user_bytes = 0

    def cycle(self, payloads: "list[str]") -> "dict[str, int]":
        rows = []
        for p in payloads:
            d = json.loads(p)
            rows.append({
                "id": bronze_id(p),
                "icao": d["icao"],
                "observed": _ts(d["observed"]),
                "temp": d["temperature"]["celsius"],
                "wind": d["wind"]["speed_kts"],
                "vis": d["visibility"]["meters_float"],
                "bytes": len(p.encode("utf-8")),
            })
        fresh = [r for r in rows
                 if self.stg_wm is None or r["observed"] > self.stg_wm]
        for r in fresh:
            if r["id"] not in self.stg:
                self.user_bytes += r["bytes"]
            self.stg[r["id"]] = r
        self.stg_wm = max(r["observed"] for r in self.stg.values())

        numeric = [r for r in self.stg.values() if r["id"].isdigit()]
        self.ods.extend(
            r for r in numeric
            if self.ods_wm is None or r["observed"] >= self.ods_wm
        )
        self.ods_wm = max(r["observed"] for r in self.ods)

        latest: "dict[str, dict]" = {}
        for r in self.stg.values():
            if self.int_wm is not None and r["observed"] <= self.int_wm:
                continue
            cur = latest.get(r["icao"])
            if cur is None or (r["observed"], r["id"]) > (
                cur["observed"], cur["id"]
            ):
                latest[r["icao"]] = r
        self.int.update(latest)
        self.int_wm = max(r["observed"] for r in self.int.values())

        groups: "dict[tuple, list]" = {}
        for r in self.ods:
            day = r["observed"].date()
            if self.dwh_wm is None or day >= self.dwh_wm:
                groups.setdefault((r["icao"], day), []).append(r)
        for k, g in groups.items():
            temps = [r["temp"] for r in g if r["temp"] is not None]
            winds = [r["wind"] for r in g if r["wind"] is not None]
            vis = [r["vis"] for r in g if r["vis"] is not None]
            new = (
                _round6(sum(temps) / len(g)) if temps else None,
                max(winds) if winds else None,
                min(vis) if vis else None,
                len(g),
            )
            if k not in self.dwh or new[3] >= self.dwh[k][3]:
                self.dwh[k] = new
        self.dwh_wm = max(k[1] for k in self.dwh)
        return {"late": len(rows) - len(fresh)}

    def assertions(self) -> "dict[str, int]":
        return {
            "not_null_id": 0,
            "unique_id": 0,
            "accepted_values_icao": 0,
            "relationships_icao": 0,
            "not_negative_visibility": sum(
                1 for r in self.stg.values()
                if r["vis"] is not None and r["vis"] < 0
            ),
        }

    def bad_ids(self) -> int:
        return sum(1 for r in self.stg.values() if not r["id"].isdigit())


def _mapped_ids(flat):
    """Give the collector's md5 content ids the reference's id shapes
    (see gen.bronze_id) — the same mapping the generator applies."""
    from pyspark.sql import functions as F

    return flat.withColumn(
        "id",
        F.when(F.substring("id", 1, 1).isin("c", "d", "e", "f"), F.col("id"))
        .otherwise(F.conv(F.substring("id", 1, 7), 16, 10)),
    )


class MetarIngest:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    # -- set-up -----------------------------------------------------------

    def setup(self, spark, work: str) -> None:
        """Seed a fresh lake with history, then run warm-up cycles."""
        self.spark = spark
        self.lake = self.storage_root = os.path.join(work, "lake")
        shutil.rmtree(self.lake, ignore_errors=True)
        self.gen = MetarGen(self.ctx.seed, N_STATIONS, HISTORY_SLOTS)
        self.model = MetarModel()
        self.late_total = 0
        self.ctx.tracer.op_id = -1 - WARMUP_CYCLES
        for k in range(1 + WARMUP_CYCLES):
            if k:
                self.gen.obs_per_batch = OBS_PER_BATCH
                self.ctx.tracer.op_id += 1  # the last warm-up cycle is -1
            payloads = self.gen.batch()
            self._cycle(payloads)
            self.model.cycle(payloads)

    def _cycle(self, payloads) -> "list[dict]":
        """One DAG cycle through the engine; returns assertion results."""
        from metar_pipeline_spark.plans import medallion
        from metar_pipeline_spark.quality import assertions as qa
        from metar_pipeline_spark.sources.collector import collect_once
        from pyspark.sql import functions as F

        tr, spark, lake = self.ctx.tracer, self.spark, self.lake
        with tr.span("sources.collector.collect_once"):
            flat = _mapped_ids(
                collect_once(spark, lambda _icaos: payloads, self.gen.icaos)
            )
        with tr.span("plans.medallion.stg_stage"):
            medallion.stg_stage(spark, flat, lake)
        with tr.span("plans.medallion.ods_stage"):
            medallion.ods_stage(spark, lake)
        with tr.span("plans.medallion.int_stage"):
            medallion.int_stage(spark, lake)
        with tr.span("plans.medallion.dwh_stage"):
            medallion.dwh_stage(spark, lake)
        with tr.span("quality.run_assertions"):
            stg = spark.read.parquet(os.path.join(lake, "stg"))
            dwh = spark.read.parquet(os.path.join(lake, "dwh"))
            return qa.run_assertions([
                qa.not_null(stg, "id"),
                qa.unique(stg, "id"),
                qa.accepted_values(stg, "icao", self.gen.icaos),
                qa.relationships(dwh, stg, "icao", "icao"),
                qa.singular("not_negative_visibility", stg,
                            F.col("visibility_m") < 0, severity="warn"),
            ])

    # -- timed operation --------------------------------------------------

    def make_op(self, i: int):
        self.payloads = self.gen.batch()
        return "cycle", lambda: self._cycle(self.payloads)

    def check(self, i: int, res) -> bool:
        """Assertion counts and the int table against the model."""
        late = self.model.cycle(self.payloads)["late"]
        want = self.model.assertions()
        got = {r["name"]: r["violations"] for r in res}
        ok = got == want
        rows = self.spark.read.parquet(
            os.path.join(self.lake, "int")
        ).select("icao", "observed", "id").collect()
        have = {(r.icao, r.observed, r.id) for r in rows}
        ok = ok and have == {
            (k, v["observed"], v["id"]) for k, v in self.model.int.items()
        }
        # metric rows the stg stage appended for this batch
        m = self.spark.read.parquet(os.path.join(self.lake, "_metrics"))
        n_fresh = (
            m.orderBy(m.max_observed_epoch.desc()).first()["n_rows"]
        )
        got_late = len(self.payloads) - n_fresh
        ok = ok and got_late == late
        self.late_total += got_late
        self.ctx.layer_value("medallion.rows_late_dropped", self.late_total)
        return ok

    # -- end of run -------------------------------------------------------

    def final_check(self) -> bool:
        from pyspark.sql import functions as F

        spark, lake, model = self.spark, self.lake, self.model
        dwh = {
            (r.icao, r.observed_date): (
                r.avg_temperature_c, r.max_wind_speed_kt,
                r.min_visibility_m, r.n_observations,
            )
            for r in spark.read.parquet(os.path.join(lake, "dwh")).collect()
        }
        ods = spark.read.parquet(os.path.join(lake, "ods")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("id_int").alias("s")
        ).first()
        stg_n = spark.read.parquet(os.path.join(lake, "stg")).count()
        bad = stg_n - spark.read.parquet(
            os.path.join(lake, "stg")
        ).filter(F.col("id").rlike("^[0-9]+$")).count()
        self.ctx.layer_value("medallion.rows_bad_id_dropped", bad)
        return (
            dwh == model.dwh
            and ods["n"] == len(model.ods)
            and ods["s"] == sum(int(r["id"]) for r in model.ods)
            and stg_n == len(model.stg)
            and bad == model.bad_ids()
        )

    def storage(self, written: int) -> "dict[str, float]":
        size, files = tree_usage(self.lake)
        self.ctx.layer_value("lake.files", files)
        return {"storage.bytes_per_user_byte": size / self.model.user_bytes}

    def op_rows(self, i: int, res) -> int:
        return len(self.payloads)
