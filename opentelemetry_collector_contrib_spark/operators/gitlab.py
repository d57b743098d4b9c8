"""GitLab pipeline webhook → OTLP trace translation.

Re-expresses ``receiver/gitlabreceiver``'s trace path
(traces_event_handling.go:41-325, model.go:22-181) over DataFrames of
pipeline-event JSON (one webhook per row). Semantics mirrored and
pinned by ``tests/test_round5_gitlab.py``:

- deterministic ids (traces_event_handling.go:135-219): trace =
  sha256("{pipelineID}t{finishedAt}")[:32]; pipeline span =
  sha256("{pipelineID}{finishedAt}") hex[16:32]; stage span =
  sha256("{pipelineID}{stageName}{startedAt}") hex[16:32]; job span =
  sha256("{jobID}{startedAt}") hex[16:32] — all over the RAW webhook
  time strings, not re-formatted ones;
- one resource per event with service.name =
  project.path_with_namespace (:44);
- the pipeline span is the root (model.go:50-53), named
  object_attributes.name falling back to commit.title (:27-34),
  created_at → finished_at;
- stages do not exist as webhook objects: they are derived from the
  builds list — one stage per distinct ``job.stage``, started = the
  EARLIEST non-empty job started_at, finished = the LATEST non-empty
  job finished_at (newStages/setStageTime :221-286), parent = the
  pipeline span;
- a job span per build with a non-empty finished_at (:97-114),
  parent = its stage's span (derived from the stage's computed
  startedAt), started_at → finished_at;
- time strings accept the real-webhook layout
  "2006-01-02 15:04:05 UTC" and the test-event RFC3339 layout
  (parseGitlabTime :303-325);
- the reference drops the WHOLE event on any error: unparseable or
  empty pipeline finished_at/created_at, an empty stage name, a
  stage with no parseable started/finished (e.g. nothing ever
  started), or a finished job whose started_at is empty
  (createSpan error propagation :57-68). Such events yield a single
  ``gl_span_type='dropped'`` row with ``gl_ok=false``.

Plan shape: one ``from_json``, stage derivation via array
higher-order functions (no per-stage shuffle — stages live inside
the row), one ``explode`` of the assembled span array. sha256 is the
JVM builtin; zero Python.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEMA = (
    "struct<"
    "object_attributes struct<id:long,name:string,created_at:string,"
    "  finished_at:string>,"
    "commit struct<title:string>,"
    "project struct<path_with_namespace:string>,"
    "builds array<struct<id:long,stage:string,name:string,status:string,"
    "  created_at:string,started_at:string,finished_at:string>>>"
)


def _sha_hex(s: Column) -> Column:
    return F.lower(F.sha2(s, 256))


def _span_id(s: Column) -> Column:
    """newSpanID (traces_event_handling.go:208-219): sha256 hex[16:32]."""
    return F.substring(_sha_hex(s), 17, 16)


def _ts(s: Column) -> Column:
    """parseGitlabTime (:303-325): webhook layout, then RFC3339."""
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd HH:mm:ss 'UTC'")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")),
        F.try_to_timestamp(s, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
    )


def _ns(s: Column) -> Column:
    return F.unix_micros(_ts(s)) * 1000


def _nonempty(s: Column) -> Column:
    # "" and "null" are the reference's empty-time sentinels (:308)
    return s.isNotNull() & (s != "") & (s != "null")


def _parses(s: Column) -> Column:
    return _nonempty(s) & _ts(s).isNotNull()


def gitlab_pipeline_spans(df: DataFrame) -> DataFrame:
    """Pipeline webhook JSON → (pipeline | stage | job) span rows.

    Input: any DataFrame with a JSON string column ``body`` (plus
    passthrough columns, kept). Output adds one row per span with
    gl_span_type / ids / name / ns timestamps / gl_service / gl_ok.
    """
    passthrough = [c for c in df.columns if c != "body"]
    p = df.select(*passthrough, F.from_json(F.col("body"), _SCHEMA).alias("p"))

    oa = F.col("p.object_attributes")
    a = p.select(
        *passthrough,
        oa["id"].cast("string").alias("pid"),
        F.when(_nonempty(oa["name"]), oa["name"])
        .otherwise(F.col("p.commit.title")).alias("pname"),
        oa["created_at"].alias("created"),
        oa["finished_at"].alias("fin"),
        F.col("p.project.path_with_namespace").alias("gl_service"),
        F.coalesce(F.col("p.builds"), F.array().cast(
            "array<struct<id:long,stage:string,name:string,status:string,"
            "created_at:string,started_at:string,finished_at:string>>"
        )).alias("builds"),
    )

    # --- stage derivation (newStages + setStageTime :221-286) ----------
    # per distinct stage name: earliest non-empty started, latest
    # non-empty finished — picked on PARSED time, raw string kept
    # (the raw string feeds the stage span id).
    def _pick(jobs: Column, field: str, last: bool) -> Column:
        cand = F.filter(
            F.transform(jobs, lambda b: b[field]), lambda s: _nonempty(s)
        )
        keyed = F.array_sort(
            F.transform(cand, lambda s: F.struct(_ts(s).alias("t"),
                                                 s.alias("raw")))
        )
        # F.get is 0-indexed and null-safe on empty candidate lists
        return F.get(keyed, F.size(keyed) - 1 if last else F.lit(0))["raw"]

    stage_names = F.array_distinct(
        F.transform(F.col("builds"), lambda b: b["stage"]))
    stages = F.transform(
        stage_names,
        lambda nm: F.struct(
            nm.alias("name"),
            _pick(F.filter(F.col("builds"), lambda b: b["stage"] == nm),
                  "started_at", last=False).alias("started"),
            _pick(F.filter(F.col("builds"), lambda b: b["stage"] == nm),
                  "finished_at", last=True).alias("finished"),
        ),
    )
    b = a.select(*passthrough, "pid", "pname", "created", "fin",
                 "gl_service", "builds", stages.alias("stages"))

    # --- validity (error propagation drops the whole event :57-68) -----
    jobs_ok = F.forall(
        F.col("builds"),
        lambda j: (~_nonempty(j["started_at"]) | _parses(j["started_at"]))
        & (~_nonempty(j["finished_at"]) | _parses(j["finished_at"]))
        & ~(_nonempty(j["finished_at"]) & ~_nonempty(j["started_at"])),
    )
    stages_ok = F.forall(
        F.col("stages"),
        lambda s: _nonempty(s["name"]) & _parses(s["started"])
        & _parses(s["finished"]),
    )
    ok = (_parses(F.col("fin")) & _parses(F.col("created"))
          & jobs_ok & stages_ok)

    trace = F.substring(
        _sha_hex(F.concat(F.col("pid"), F.lit("t"), F.col("fin"))), 1, 32)
    pspan = _span_id(F.concat(F.col("pid"), F.col("fin")))
    c = b.select(*passthrough, "pname", "created", "fin", "gl_service",
                 "builds", "stages", "pid",
                 ok.alias("gl_ok"), trace.alias("gl_trace_id"),
                 pspan.alias("pspan"),
                 F.map_from_entries(
                     F.transform(F.col("stages"),
                                 lambda s: F.struct(s["name"], s["started"]))
                 ).alias("stage_start"))

    span = lambda typ, sid, parent, name, start, end: F.struct(  # noqa: E731
        F.lit(typ).alias("gl_span_type"), sid.alias("gl_span_id"),
        parent.alias("gl_parent_id"), name.alias("gl_name"),
        _ns(start).alias("gl_start_ns"), _ns(end).alias("gl_end_ns"))

    pipe_span = span("pipeline", F.col("pspan"),
                     F.lit(None).cast("string"), F.col("pname"),
                     F.col("created"), F.col("fin"))
    stage_spans = F.transform(
        F.col("stages"),
        lambda s: span("stage",
                       _span_id(F.concat(F.col("pid"), s["name"],
                                         s["started"])),
                       F.col("pspan"), s["name"], s["started"],
                       s["finished"]),
    )
    job_spans = F.transform(
        F.filter(F.col("builds"), lambda j: _nonempty(j["finished_at"])),
        lambda j: span("job",
                       _span_id(F.concat(j["id"].cast("string"),
                                         j["started_at"])),
                       _span_id(F.concat(
                           F.col("pid"), j["stage"],
                           F.col("stage_start")[j["stage"]])),
                       j["name"], j["started_at"], j["finished_at"]),
    )
    dropped = F.array(span("dropped", F.lit(None).cast("string"),
                           F.lit(None).cast("string"),
                           F.lit(None).cast("string"),
                           F.lit(None).cast("string"),
                           F.lit(None).cast("string")))
    spans = F.when(
        F.col("gl_ok"),
        F.concat(F.array(pipe_span), stage_spans, job_spans),
    ).otherwise(dropped)

    d = c.select(*passthrough, "gl_trace_id", "gl_service", "gl_ok",
                 F.explode(spans).alias("s"))
    return d.select(*passthrough, "gl_trace_id", F.col("s.*"),
                    "gl_service", "gl_ok")
