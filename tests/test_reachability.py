"""Every top-level package definition is reached by code that runs, and
every defaulted parameter of a package function is set by some call
(the second scan, further down).

A pure-Python scan, no Spark. It collects each module-level function,
class and assigned name in the package, then counts the places the name
is used in the program: the package, ``jobs/``, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py`` (test files are
not program). A use is a NAME token, or an identifier inside an f-string
(on Python 3.11 an f-string is one STRING token, and the oracle SQL
interpolates helpers such as ``{_SQL_SPANS}``). A name in an ``import``
statement is a use only when the importing module uses it elsewhere,
so an unused import keeps nothing alive. A use inside the
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


def _py_files(paths):
    for p in paths:
        yield from [p] if p.is_file() else sorted(p.rglob("*.py"))


def _program_files():
    for f in _py_files(PROGRAM):
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
    """{name: [(path, line)]} of every use of a name in `names`. A name
    in an ``import`` statement is a use only when the importing module
    uses it elsewhere."""
    uses = defaultdict(list)
    for f in _program_files():
        text = f.read_text()
        imports = [n for n in ast.walk(ast.parse(text, str(f)))
                   if isinstance(n, (ast.Import, ast.ImportFrom))]
        in_import = {line for n in imports
                     for line in range(n.lineno, n.end_lineno + 1)}
        seen: set[str] = set()
        for tok in tokenize.generate_tokens(io.StringIO(text).readline):
            if tok.start[0] in in_import:
                continue
            if tok.type == tokenize.NAME:
                found = [tok.string]
            elif tok.type == tokenize.STRING and _FSTRING.match(tok.string):
                found = _IDENT.findall(tok.string)
            else:
                continue
            seen.update(found)
            for name in found:
                if name in names:
                    uses[name].append((f, tok.start[0]))
        for n in imports:
            for a in n.names:
                if a.name in names and (a.asname or a.name) in seen:
                    uses[a.name].append((f, n.lineno))
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


# --- every defaulted parameter is set by some call -------------------------
#
# A parameter with a default is an option. It is set when some call in
# the program, ``tests/`` or ``perfbench/test_*.py`` passes it, by keyword
# or by position. Calls match a function by name (a class name matches
# its ``__init__``; a method's positions skip ``self``/``cls``). A
# function called with ``*args``/``**kwargs``, or whose name is also used
# as a value (a registry entry, a callback, a partial), is skipped, so
# the scan can miss a dead option but never flags a live one. An option
# no call sets is deleted and its default inlined, or listed in
# ``KEEP_PARAMS`` with the reason it stays (deployment settings only:
# paths, addresses, credentials).

KEEP_PARAMS: dict[str, str] = {}


def _annotations(tree):
    """ids of the nodes inside annotations (a type is not a use)."""
    ids = set()
    for node in ast.walk(tree):
        anns = []
        if isinstance(node, ast.arg):
            anns = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns = [node.returns]
        elif isinstance(node, ast.AnnAssign):
            anns = [node.annotation]
        ids.update(id(n) for a in anns if a is not None
                   for n in ast.walk(a))
    return ids


def _call_name(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


@functools.cache
def _calls():
    """({name: [(positional count, keyword names)]}, names called with
    *args/**kwargs, names used as a value)."""
    calls, starred, values = defaultdict(list), set(), set()
    for f in _py_files(PROGRAM + [ROOT / "tests"]):
        tree = ast.parse(f.read_text(), str(f))
        skip = _annotations(tree)
        funcs = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                funcs.add(id(node.func))
                name = _call_name(node.func)
                if name is None:
                    continue
                if (any(isinstance(a, ast.Starred) for a in node.args)
                        or any(k.arg is None for k in node.keywords)):
                    starred.add(name)
                calls[name].append(
                    (len(node.args), {k.arg for k in node.keywords}))
        for node in ast.walk(tree):
            if id(node) in funcs or id(node) in skip:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                values.add(node.id)
            elif (isinstance(node, ast.Attribute)
                  and isinstance(node.ctx, ast.Load)):
                values.add(node.attr)
    return calls, starred, values


def _package_functions():
    """(path, name the callers use, function node) of every function in
    the package; a class's ``__init__`` answers to the class name."""
    for f in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    if (isinstance(item, ast.FunctionDef)
                            and item.name == "__init__"):
                        yield f, node.name, item
            elif (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and node.name != "__init__"):
                yield f, node.name, node


def _defaulted(fn):
    """[(position or None, name)] of the parameters with a default; the
    position skips ``self``/``cls``."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if positional and positional[0].arg in ("self", "cls") else 0
    first = len(positional) - len(a.defaults)
    out = [(i - skip, p.arg) for i, p in enumerate(positional) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


@functools.cache
def unset_parameters() -> tuple:
    """(path, function, parameter) of each defaulted parameter of a
    package function that no call sets."""
    calls, starred, values = _calls()
    out = []
    for f, name, fn in _package_functions():
        if name in starred or name in values:
            continue
        names = {name, "__init__"} if fn.name == "__init__" else {name}
        seen = [c for n in names for c in calls.get(n, ())]
        for pos, param in _defaulted(fn):
            if not any(param in kws or (pos is not None and pos < npos)
                       for npos, kws in seen):
                out.append((f.relative_to(ROOT).as_posix(), name, param))
    return tuple(out)


def test_every_parameter_is_set():
    extra = [f"{f}:{fn}({p})" for f, fn, p in unset_parameters()
             if f"{fn}.{p}" not in KEEP_PARAMS]
    assert not extra, (
        f"{len(extra)} defaulted parameters no call sets: {extra}; inline "
        "each default and delete the parameter, or add it to KEEP_PARAMS "
        "with the reason it stays")


def test_keep_params_lists_only_unset_parameters():
    unset = {f"{fn}.{p}" for _, fn, p in unset_parameters()}
    stale = sorted(KEEP_PARAMS.keys() - unset)
    assert not stale, f"KEEP_PARAMS names set or deleted parameters: {stale}"
