"""Config-driven pipeline builder — the collector-config lifecycle
(SURVEY.md §3 EP3: YAML names components and pipelines; factories wire
receivers → processors → connectors → exporters).

Here the config is a plain dict (YAML-loadable) and "wiring" is
DataFrame composition; topology = Catalyst lineage. Transform
statements and route conditions are OTTL STRINGS compiled through
``functions/ottl_compiler`` — the config surface a reference user
already writes.

Example::

    PIPELINE = {
        "transform": [                      # transformprocessor statements
            'set(attributes["body_hash"], MD5(body))',
        ],
        "filter": [                         # filterprocessor drop conditions
            'IsMatch(body, "^DEBUG")',
        ],
        "enrich": [                         # k8sattributes-style dims
            {"dim": "role_dim", "on": "role"},
        ],
        "routes": [                         # routingconnector table
            {"name": "alerts", "condition":
                "severity_number >= SEVERITY_NUMBER_WARN"},
            {"name": "tools", "condition": 'attributes["tool"] != ""'},
        ],
        "default_route": "catchall",
    }
    routed = build_pipeline(PIPELINE, records, dims={"role_dim": dim_df})
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame

from ..functions.ottl_compiler import compile_condition, compile_statements
from ..operators.enrich import broadcast_enrich
from ..operators.filter import filter_processor
from ..operators.route import Route, apply_routes


def routes_from_config(route_cfgs: list[Mapping]) -> list[Route]:
    """Ordered route table from {name, condition: <OTTL string>} rows
    (routingconnector config.go:24-107 shape)."""
    return [
        Route(r["name"], compile_condition(r["condition"])) for r in route_cfgs
    ]


def build_pipeline(
    config: Mapping,
    records: DataFrame,
    dims: Mapping[str, DataFrame] | None = None,
) -> DataFrame:
    """Compose transform → filter → enrich → route from config.

    Stage order matches the reference's processor-chain order; every
    stage is optional. Returns the routed DataFrame (route column
    added); sinks/aggregates are downstream concerns
    (``write_pipeline``-style writers take it from here).
    """
    df = records

    schema_cfg = config.get("schema")
    if schema_cfg:
        from ..operators.schema import schema_translate

        df = schema_translate(
            df,
            schema_cfg["from"],
            schema_cfg["to"],
            attr_cols=tuple(schema_cfg.get("attr_cols", ("attributes",))),
            resource_cols=tuple(schema_cfg.get("resource_cols", ())),
        )

    stmts = list(config.get("transform", []))
    if stmts:
        df = compile_statements(stmts)(df)

    drops = [compile_condition(c) for c in config.get("filter", [])]
    if drops:
        df = filter_processor(df, drops)

    for spec in config.get("enrich", []):
        dim_name = spec["dim"]
        if dims is None or dim_name not in dims:
            raise KeyError(f"enrich dim {dim_name!r} not provided")
        df = broadcast_enrich(
            df,
            dims[dim_name],
            on=spec["on"],
            insert_if_absent=spec.get("insert_if_absent", True),
        )

    span_cfg = config.get("span")
    if span_cfg:
        from ..operators.span import span_name_from_attributes, span_to_attributes

        name_cfg = span_cfg.get("name")
        if name_cfg:
            df = span_name_from_attributes(
                df,
                name_cfg["from_attributes"],
                name_cfg.get("separator", ""),
                name_col=span_cfg.get("name_col", "name"),
            )
        rules = span_cfg.get("to_attributes", {}).get("rules")
        if rules:
            df = span_to_attributes(
                df, rules, name_col=span_cfg.get("name_col", "name")
            )

    route_cfgs = config.get("routes", [])
    if route_cfgs:
        df = apply_routes(
            df,
            routes_from_config(route_cfgs),
            default=config.get("default_route", "default"),
        )
    return df
