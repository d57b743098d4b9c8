"""Every top-level package definition is reached by code that runs.

A pure-Python scan, no Spark. It collects each module-level function,
class and assigned name in the package, then counts the places the name
is used in the program: the package, ``jobs/``, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (test files are
not program). A use is a NAME token, or an identifier inside an f-string
(on Python 3.11 an f-string is one STRING token, and the oracle SQL
interpolates helpers such as ``{_SQL_SPANS}``). A use inside the
definition's own lines does not count, and neither does a use inside a
definition that is itself unreached; the scan iterates to a fixed point.

The match is by name only, so it can miss dead code (a name shared with
a live one) but never flags live code as dead. A definition nothing
reaches is deleted with its tests, or listed in ``KEEP`` with the reason
it stays.
"""

from __future__ import annotations

import ast
import functools
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "opentelemetry_collector_contrib_spark"
PROGRAM = [PACKAGE, ROOT / "jobs", ROOT / "tools", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# Unreached definitions that stay, with the reason. Each is the engine's
# only form of a reference semantic that SURVEY.md/IMPLEMENTATION.md
# list, a seam for a real cluster, or a test's reference.
KEEP = {
    "write_table_sink": "the real-cluster Iceberg sink seam",
    "iceberg_available": "gates the Iceberg seam on the catalog jars",
    "TRANSCRIPT_SCHEMA": "the input contract test_transcripts checks the "
                         "generator against",
    "hamming_distance_bits": "test_simhash_near_dup_has_small_hamming's "
                             "reference distance",
    "split_on_error": "stanza on_error drop/send as a dead-letter split "
                      "(test_mid_stream_stanza_subpipeline)",
    "probabilistic_sampler": "probabilisticsampler's seeded hash threshold; "
                             "the registry query hashes md5 for its oracle "
                             "(test_probabilistic_sampler_consistency)",
    "rate_limited_sampler": "tail sampling's rate_limiting policy "
                            "(test_rate_limited_sampler)",
    "geoip_enrich": "geoip IPv4 block lookup (test_ip_to_long_and_geoip)",
    "ip_to_long": "geoip_enrich's key (test_ip_to_long_and_geoip)",
    "failover_write": "failoverconnector's priority fall-through "
                      "(test_failover_write_falls_through)",
    "write_file_exporter": "fileexporter's json/compression/rotation knobs "
                           "(test_write_file_exporter_jsonl_gzip_rotation)",
    "alert_rule_stateful": "alertsgen's cross-run `for:` state sync "
                           "(test_alert_state_sync_across_runs)",
    "with_file_metadata": "filelog include_file_name/include_file_path "
                          "(test_with_file_metadata)",
}

_IDENT = re.compile(r"[A-Za-z_]\w*")
_FSTRING = re.compile(r"^[rRbB]?[fF][rRbB]?['\"]")


def _program_files():
    for p in PROGRAM:
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            if not (f.name.startswith("test_") or f.name == "conftest.py"):
                yield f


def _statements():
    """(path, first_line, last_line, names) of each module-level
    function, class or assignment in the package."""
    for f in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(f.read_text(), str(f)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [n.id for t in node.targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            names = frozenset(n for n in names if not n.startswith("__"))
            first = min([node.lineno]
                        + [d.lineno for d in
                           getattr(node, "decorator_list", [])])
            if names:
                yield f, first, node.end_lineno, names


def _uses(names):
    """{name: [(path, line)]} of every use of a name in `names`."""
    uses = defaultdict(list)
    for f in _program_files():
        toks = tokenize.generate_tokens(io.StringIO(f.read_text()).readline)
        for tok in toks:
            if tok.type == tokenize.NAME:
                found = [tok.string]
            elif tok.type == tokenize.STRING and _FSTRING.match(tok.string):
                found = _IDENT.findall(tok.string)
            else:
                continue
            for name in found:
                if name in names:
                    uses[name].append((f, tok.start[0]))
    return uses


@functools.cache
def unreached() -> frozenset:
    """Names of package definitions no program code reaches."""
    # (file, line) -> names the enclosing module-level statement defines
    owner: dict[tuple, frozenset] = {}
    defined: set[str] = set()
    for f, lo, hi, names in _statements():
        defined |= names
        owner.update(((f, line), names) for line in range(lo, hi + 1))
    uses = {n: [owner.get(u, frozenset()) for u in us]
            for n, us in _uses(defined).items()}

    dead: set[str] = set()
    while True:
        # a use counts unless it sits in the name's own definition or in
        # a statement whose every defined name is already unreached
        newly = {n for n in defined if n not in dead and not any(
            n not in o and not (o and o <= dead) for o in uses.get(n, ()))}
        if not newly:
            return frozenset(dead)
        dead |= newly


def test_every_package_definition_is_reached():
    extra = sorted(unreached() - KEEP.keys())
    assert not extra, (
        "package definitions no job, tool, benchmark or registry query "
        f"reaches: {extra}; delete them with their tests, or add them "
        "to KEEP with the reason they stay")


def test_keep_lists_only_unreached_definitions():
    stale = sorted(KEEP.keys() - unreached())
    assert not stale, f"KEEP names reached or deleted definitions: {stale}"
