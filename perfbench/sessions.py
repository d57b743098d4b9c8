"""``sessions``: OTTL-configured routing, then recombine, sessionize
and log_dedup under hot-key skew, each into the noop sink.

The fixture is in the OTel log shape (``body``, an ``attributes`` map
built from role/tool, ``severity_number``) with 1% hot conversations
at 50x their turns. ``build_pipeline`` runs a few OTTL transform,
filter and route statements. The work is window, sort and
hash-aggregate shuffles and the OTTL compiler; there is no partitioned
sink write.

``recombine`` and ``log_dedup`` run on the flat columns only: on a
frame holding a map column both raise
``DATATYPE_MISMATCH.INVALID_ORDERING_TYPE``, because they take
``min(struct(..row..))`` over every column, ``attributes`` included.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.ottl_compiler import (
    compile_condition,
    compile_statements,
)
from opentelemetry_collector_contrib_spark.operators.aggregate import (
    log_dedup,
    recombine,
    sessionize,
)
from opentelemetry_collector_contrib_spark.plans.config import build_pipeline
from opentelemetry_collector_contrib_spark.sources.transcripts import generate_transcripts

from . import harness as H
from . import oracle

# fixture: the first TURNS turns of N_CONVS conversations with a hot
# slice (1% of conversations x50); N_CONVS leaves TURNS well covered
N_CONVS = 3_200
TURNS = 72_000
HOT_FRAC = 0.01
HOT_MULT = 50
RECOMBINE_MAX_BATCH = 1000
# the JIT keeps speeding jobs up for a while after the cold first one
WARMUP_JOBS = 4

TRANSFORM = [
    'set(attributes["kind"], "logline") where IsMatch(body, "^[0-9]{4}-[0-9]{2}-[0-9]{2}T")',
    'set(attributes["kind"], "continuation") where IsMatch(body, "^ ")',
    'set(severity_number, SEVERITY_NUMBER_ERROR) where attributes["tool"] != nil '
    'and IsMatch(body, "status.:.error")',
]
FILTER = ["severity_number < SEVERITY_NUMBER_INFO"]
ROUTES = [
    {"name": "alerts", "condition": "severity_number >= SEVERITY_NUMBER_WARN"},
    {"name": "tools", "condition": 'attributes["tool"] != nil'},
    {"name": "user", "condition": 'attributes["role"] == "user"'},
]
CONFIG = {"transform": TRANSFORM, "filter": FILTER, "routes": ROUTES, "default_route": "catchall"}
PREFIX_CONFIG = {"transform": TRANSFORM, "filter": FILTER}

FLAT = ["conv_id", "turn_idx", "ts", "body", "route", "severity_number"]
ROUTE_NAMES = ["alerts", "tools", "user", "catchall"]

LAYERS = {
    "scan.busy_s", "route.busy_s", "route.catchall_ratio",
    "ottl.compile_s", "ottl.transform_busy_s", "ottl.filter_drop_ratio",
    "aggregate.recombine_busy_s", "aggregate.sessionize_busy_s", "aggregate.dedup_busy_s",
    "aggregate.shuffle_bytes", "aggregate.task_skew", "aggregate.dedup_ratio",
}

AGG_GROUPS = ["aggregate.recombine", "aggregate.sessionize", "aggregate.dedup"]


def _log_fixture(df):
    """Transcript rows -> OTel log records."""
    sev_token = F.regexp_extract(
        F.col("text"), r"^\d{4}-\d{2}-\d{2}T\S+ (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) ", 1
    )
    severity = (
        F.when(sev_token == "TRACE", 1).when(sev_token == "DEBUG", 5)
        .when(sev_token == "WARN", 13).when(sev_token == "ERROR", 17)
        .when(sev_token == "FATAL", 21).otherwise(9)
    )
    attributes = F.when(
        F.col("tool").isNotNull(),
        F.create_map(F.lit("role"), F.col("role"), F.lit("tool"), F.col("tool")),
    ).otherwise(F.create_map(F.lit("role"), F.col("role")))
    return df.select(
        "conv_id", "turn_idx", "ts",
        F.col("text").alias("body"),
        attributes.alias("attributes"),
        severity.cast("int").alias("severity_number"),
    )


def _is_first_entry():
    return ~F.col("body").startswith(" ")


class Sessions:
    def __init__(self, run: H.Run) -> None:
        self.run = run
        self.fixture = run.path("fixture")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def setup(self) -> dict[str, float]:
        """Fixture, oracle and warm-up jobs; returns each part's seconds."""
        spark = self.run.spark
        fixture_s, _ = H.timed(
            lambda: _log_fixture(
                H.first_turns(
                    generate_transcripts(
                        spark, n_convs=N_CONVS, hot_frac=HOT_FRAC, hot_mult=HOT_MULT, seed=self.run.seed
                    ),
                    TURNS,
                )
            ).write.mode("overwrite").parquet(self.fixture)
        )
        t0 = time.perf_counter()
        con = H.duck(self.run)
        self.expect = oracle.session_expectations(
            con, os.path.join(self.fixture, "*.parquet"), RECOMBINE_MAX_BATCH
        )
        con.close()
        oracle_s = time.perf_counter() - t0
        warmup_s = sum(self.iteration()[0] for _ in range(WARMUP_JOBS))  # not gated
        return {"fixture_s": fixture_s, "oracle_s": oracle_s, "warmup_s": warmup_s}

    def _outputs(self, routed):
        flat = routed.select(*FLAT)
        return {
            "recombine": recombine(
                flat, ["conv_id"], "turn_idx", is_first_entry=_is_first_entry(),
                combine_col="body", max_batch_size=RECOMBINE_MAX_BATCH,
            ),
            "sessionize": sessionize(routed, ["conv_id"], ts_col="ts", gap="30 minutes"),
            "dedup": log_dedup(flat, ["conv_id", "route", "severity_number"], ts_col="ts", interval="1 minute"),
        }

    def iteration(self) -> tuple[float, dict[str, dict]]:
        spark = self.run.spark

        def job() -> dict[str, dict]:
            routed = build_pipeline(CONFIG, spark.read.parquet(self.fixture))
            outs = self._outputs(routed)
            obs = {name: Observation(name) for name in outs}
            H.force(
                outs["recombine"], obs["recombine"],
                F.count(F.lit(1)).alias("groups"),
                F.sum("recombined_count").alias("rows"),
            )
            H.force(
                outs["sessionize"], obs["sessionize"],
                F.count(F.lit(1)).alias("rows"),
                *[F.count(F.when(F.col("route") == r, 1)).alias(r) for r in ROUTE_NAMES],
            )
            H.force(
                outs["dedup"], obs["dedup"],
                F.count(F.lit(1)).alias("kept"),
                F.sum("log_count").alias("rows"),
            )
            return {name: o.get for name, o in obs.items()}

        return H.timed(job)

    def gate(self, got: dict[str, dict]) -> None:
        """Rows conserved through filter/route (per-route counts == the
        oracle), every kept row in exactly one recombined group, group
        count == the oracle's first-entry count, and sessionize/dedup
        conserving rows."""
        self.attempted += 1
        e = self.expect
        problems: list[str] = []
        ses = got["sessionize"]
        routes = {r: ses[r] for r in ROUTE_NAMES if ses[r] > 0}
        if routes != e["routes"]:
            problems.append(f"routes {routes} != oracle {e['routes']}")
        if ses["rows"] != e["kept"]:
            problems.append(f"sessionize rows {ses['rows']} != kept {e['kept']}")
        if got["recombine"]["rows"] != e["kept"]:
            problems.append(f"recombined rows {got['recombine']['rows']} != kept {e['kept']}")
        if got["recombine"]["groups"] != e["groups"]:
            problems.append(f"recombine groups {got['recombine']['groups']} != oracle {e['groups']}")
        if got["dedup"]["rows"] != e["kept"]:
            problems.append(f"dedup counted {got['dedup']['rows']} rows != kept {e['kept']}")
        if problems:
            self.failed += 1
            self.errors.extend(problems)

    def measure(self) -> dict[str, object]:
        def one() -> float:
            dt, got = self.iteration()
            self.gate(got)
            return dt

        walls, cpus = H.measure_loop(self.run, one)
        return {"samples": walls, "cpu": cpus, "turns": self.expect["input"]}

    def traced(self, tracer: H.Tracer) -> tuple[float, dict[str, float]]:
        """Each plan prefix forced into the noop sink, then one traced
        end-to-end job. A layer's busy time is its prefix's forced time
        minus the previous prefix's; each aggregate's prefix is the
        routed frame."""
        spark = self.run.spark

        def src():
            return spark.read.parquet(self.fixture)

        # the first jobs of a restarted context pay one-off costs; keep
        # them out of the layer prefixes
        H.force(build_pipeline(CONFIG, src()))
        with tracer.span("layers"):
            with tracer.span("ottl.compile"):
                compile_statements(TRANSFORM)
                for c in FILTER + [r["condition"] for r in ROUTES]:
                    compile_condition(c)
            for _ in range(H.PREFIX_REPEATS):
                # an Observation reports once: fresh ones every repeat
                obs_filter, obs_route, obs_dedup = (Observation(n) for n in ("filter", "route", "dedup"))
                with tracer.span("scan", spark):
                    H.force(src())
                with tracer.span("ottl.transform", spark):
                    H.force(build_pipeline(PREFIX_CONFIG, src()), obs_filter, F.count(F.lit(1)).alias("kept"))
                with tracer.span("route", spark):
                    H.force(
                        build_pipeline(CONFIG, src()), obs_route,
                        F.count(F.lit(1)).alias("n"),
                        F.count(F.when(F.col("route") == "catchall", 1)).alias("catchall"),
                    )
                outs = self._outputs(build_pipeline(CONFIG, src()))
                with tracer.span("aggregate.recombine", spark):
                    H.force(outs["recombine"])
                with tracer.span("aggregate.sessionize", spark):
                    H.force(outs["sessionize"])
                with tracer.span("aggregate.dedup", spark):
                    H.force(outs["dedup"], obs_dedup, F.count(F.lit(1)).alias("kept"))
        with tracer.span("e2e", spark):
            dt, got = self.iteration()
        self.gate(got)

        t = tracer.seconds
        kept = obs_filter.get["kept"]
        r = obs_route.get
        layers = {
            "scan.busy_s": t("scan"),
            "ottl.compile_s": t("ottl.compile"),
            "ottl.transform_busy_s": t("ottl.transform") - t("scan"),
            "ottl.filter_drop_ratio": 1.0 - kept / self.expect["input"],
            "route.busy_s": t("route") - t("ottl.transform"),
            "route.catchall_ratio": r["catchall"] / r["n"],
            "aggregate.recombine_busy_s": t("aggregate.recombine") - t("route"),
            "aggregate.sessionize_busy_s": t("aggregate.sessionize") - t("route"),
            "aggregate.dedup_busy_s": t("aggregate.dedup") - t("route"),
            "aggregate.dedup_ratio": obs_dedup.get["kept"] / kept,
        }
        return dt, layers

    @staticmethod
    def from_event_log(groups: dict[str, H.GroupTasks]) -> dict[str, float]:
        agg = H.merge_groups(groups, AGG_GROUPS)
        return {
            # the aggregate prefixes ran PREFIX_REPEATS times
            "aggregate.shuffle_bytes": agg.shuffle_bytes / H.PREFIX_REPEATS,
            "aggregate.task_skew": agg.task_skew(),
        }

    # each aggregate re-runs the routed prefix, so self-times do not add
    # up to the end-to-end job here
    SELF_TIMES: list[str] = []
