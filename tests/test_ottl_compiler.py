"""OTTL statement-compiler corpus: real statement STRINGS compiled to
Column edits and executed — the closest analog of the reference's
``pkg/ottl/e2e/e2e_test.go`` statement→expected-cell suite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.functions.ottl_compiler import (
    OTTLSyntaxError,
    compile_condition,
    compile_statement,
    compile_statements,
)


@pytest.fixture()
def record(spark):
    return spark.createDataFrame(
        [
            (
                "operationA failed: ERROR code 500",
                17,
                "ERROR",
                {"service": "api", "secret": "hunter2", "http.method": "get"},
            ),
            (
                "operationB ok",
                9,
                "INFO",
                {"service": "web", "token": "abc", "http.method": "post"},
            ),
        ],
        "body string, severity_number int, severity_text string, "
        "attributes map<string,string>",
    )


def rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def test_set_with_converter_and_where(record):
    fn = compile_statement(
        'set(attributes["body_hash"], SHA256(body)) '
        "where severity_number >= SEVERITY_NUMBER_WARN"
    )
    got = rows(fn(record))
    assert "body_hash" in got[0]["attributes"]          # ERROR row edited
    assert len(got[0]["attributes"]["body_hash"]) == 64
    assert "body_hash" not in got[1]["attributes"]      # INFO row untouched


def test_set_top_level_field(record):
    fn = compile_statement('set(severity_text, "FAIL") where IsMatch(body, "ERROR")')
    got = rows(fn(record))
    assert got[0]["severity_text"] == "FAIL"
    assert got[1]["severity_text"] == "INFO"


def test_delete_and_keep_keys(record):
    fn = compile_statements(
        ['delete_key(attributes, "secret")', 'keep_keys(attributes, ["service", "token"])']
    )
    got = rows(fn(record))
    assert got[0]["attributes"] == {"service": "api"}
    assert got[1]["attributes"] == {"service": "web", "token": "abc"}


def test_truncate_and_replace_pattern(record):
    fn = compile_statements(
        ["truncate_all(attributes, 2)", 'replace_pattern(body, "\\\\d+", "#")']
    )
    got = rows(fn(record))
    assert got[0]["attributes"]["service"] == "ap"
    assert got[0]["body"] == "operationA failed: ERROR code #"


def test_set_map_key_from_math_and_enum(record):
    fn = compile_statement('set(attributes["x"], (severity_number + 3) * 2)')
    got = rows(fn(record))
    assert got[0]["attributes"]["x"] == "40"
    assert got[1]["attributes"]["x"] == "24"


def test_division_by_zero_is_statement_error(record):
    fn = compile_statement(
        'set(attributes["r"], severity_number / (severity_number - 17))'
    )
    got = rows(fn(record))
    # ERROR row: 17/(17-17) -> NULL -> map_set writes nothing? map_set
    # casts NULL to string NULL -> element_at returns NULL value
    assert got[0]["attributes"].get("r") is None
    assert got[1]["attributes"]["r"] is not None


def test_replace_all_patterns_and_merge(record):
    fn = compile_statement('replace_all_patterns(attributes, "value", "[0-9]", "*")')
    got = rows(fn(record))
    assert got[0]["attributes"]["secret"] == "hunter*"


def test_condition_compiler_for_routing(record):
    cond = compile_condition(
        'severity_number >= SEVERITY_NUMBER_ERROR or attributes["service"] == "web"'
    )
    got = record.filter(cond).count()
    assert got == 2
    cond2 = compile_condition('HasPrefix(body, "operationA") and not IsMatch(body, "ok")')
    assert record.filter(cond2).count() == 1


def test_where_null_condition_leaves_row(record):
    # comparing a missing attribute -> NULL condition -> no edit
    fn = compile_statement('set(severity_text, "X") where attributes["nope"] == "v"')
    got = rows(fn(record))
    assert got[0]["severity_text"] == "ERROR"


def test_converter_chain_inside_statement(record):
    fn = compile_statement(
        'set(attributes["m"], ToUpperCase(Substring(attributes["http.method"], 0, 1)))'
    )
    got = rows(fn(record))
    assert got[0]["attributes"]["m"] == "G"
    assert got[1]["attributes"]["m"] == "P"


def test_syntax_errors():
    for bad in [
        "set(attributes[x], 1)",          # non-string map index
        "unknowneditor(attributes)",      # unknown editor
        'set(nope["k"], 1)',              # unknown path root
        'set(attributes["k"], Bogus(1))', # unknown converter
        'set(attributes["k"], 1) trailing',
    ]:
        with pytest.raises(OTTLSyntaxError):
            compile_statement(bad)


def test_corpus_more_statements(record):
    """Additional statement-string cases (closer to the reference's
    193-case e2e breadth)."""
    cases = [
        # (statement, row0 check)
        ('set(attributes["c"], Concat([body, severity_text], "-"))',
         lambda r: r["attributes"]["c"] == "operationA failed: ERROR code 500-ERROR"),
        ('set(attributes["f"], Format("%s=%d", severity_text, severity_number))',
         lambda r: r["attributes"]["f"] == "ERROR=17"),
        ('set(attributes["up"], ToUpperCase(attributes["service"]))',
         lambda r: r["attributes"]["up"] == "API"),
        ('set(attributes["sub"], Substring(body, 0, 10))',
         lambda r: r["attributes"]["sub"] == "operationA"),
        ('set(attributes["len"], Len(body))',
         lambda r: r["attributes"]["len"] == "33"),
        ('set(attributes["snake"], ToSnakeCase("aBigValue"))',
         lambda r: r["attributes"]["snake"] == "a_big_value"),
        ('set(attributes["pref"], HasPrefix(body, "operation"))',
         lambda r: r["attributes"]["pref"] == "true"),
        ('set(attributes["md"], MD5("abc"))',
         lambda r: r["attributes"]["md"] == "900150983cd24fb0d6963f7d28e17f72"),
        ('set(attributes["neg"], 0 - severity_number)',
         lambda r: r["attributes"]["neg"] == "-17"),
        ('delete_matching_keys(attributes, "^http\\\\.")',
         lambda r: "http.method" not in r["attributes"] and "service" in r["attributes"]),
        ('keep_matching_keys(attributes, "^http\\\\.")',
         lambda r: list(r["attributes"]) == ["http.method"]),
        ('limit(attributes, 1, ["service"])',
         lambda r: list(r["attributes"]) == ["service"]),
        ('set(severity_text, "LOW") where severity_number < 10 or IsMatch(body, "nomatch")',
         lambda r: r["severity_text"] == "ERROR"),   # row0 unedited
        ('set(attributes["b"], ParseInt("0x1F", 16))',
         lambda r: r["attributes"]["b"] == "31"),
        ('set(attributes["s"], Seconds(Duration("2m30s")))',
         lambda r: r["attributes"]["s"] == "150.0"),
    ]
    for stmt, check in cases:
        out = rows(compile_statement(stmt)(record))
        assert check(out[0]), f"failed: {stmt}\n got {out[0]}"


@pytest.mark.parametrize(
    "stmt",
    [
        'set(attributes["missing"], attributes["nope"])',
        'replace_pattern(attributes["missing"], "l", "L")',
        'replace_match(attributes["missing"], "*", "Z")',
    ],
)
def test_nil_target_is_not_written_back(spark, stmt):
    # func_replace_pattern.go / func_replace_match.go return without
    # calling Set when the target is nil, exactly like func_set.go on
    # a nil value: the key is not created
    df = spark.createDataFrame([({"a": "hello"},)], "attributes map<string,string>")
    assert rows(compile_statement(stmt)(df)) == [{"attributes": {"a": "hello"}}]
