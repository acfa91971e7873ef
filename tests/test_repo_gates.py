"""Repository gates that need no Spark session: every top-level
definition in the package has a reader outside the tests, every
defaulted option of a package function has a caller outside the tests,
every environment read of the package is a listed deployment setting,
no allow-list carries a stale entry, and the hand-off consistency check
(registry ↔ oracle ↔ QUERIES.md) passes."""

from __future__ import annotations

import ast
import importlib.util
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pulseboard_spark"
#: Where a read or a call counts: the package and its runners, not the tests.
CALLERS = [PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "__spark_entry__.py"]

_KAFKA = "Kafka transport: the paper's S1-S3 wiring; no broker ships here"
_SIM = "event simulator: the paper's generators"
_JPEG = "JPEG test-vector encoder: builds the decoder's inputs"
_REFERENCE = "reference twin the tests compare the production path against"
_DOCUMENTED = "entry point the docs name"
_STAGE = "stream stage of the paper not composed into a pipeline yet"
#: The only reasons a definition may go without a reader outside the tests.
READER_REASONS = {_KAFKA, _SIM, _JPEG, _REFERENCE, _DOCUMENTED, _STAGE}

#: Top-level definitions nothing outside the tests reads, each with why.
UNREACHED_ALLOWED = {
    "kafka_entity_source": _KAFKA,
    "kafka_cdp_source": _KAFKA,
    "kafka_alert_sink": _KAFKA,
    "kafka_cdp_sink": _KAFKA,
    "entity_event_generator": _SIM,
    "cdp_event_generator": _SIM,
    "encode_jpeg_color": _JPEG,
    "with_ewma": _REFERENCE,
    "hard_negatives_broadcast": _REFERENCE,
    "register_queries": _DOCUMENTED,
    "build_corpus": _DOCUMENTED,
    "segments_from_spec": _DOCUMENTED,
    "install": _DOCUMENTED,
    "describe": _DOCUMENTED,
    "register_pandas": _DOCUMENTED,
    "register_scalar": _DOCUMENTED,
    "write_bucketed": _DOCUMENTED,
    "CdpIdentityStage": _STAGE,
    "profile_upsert_writer": _STAGE,
    "reengage_stateful": _STAGE,
    # joins entity_alert_stream with a benchmark revision: R3 changes the
    # stream's expected alerts
    "r3_stateful": _STAGE,
}

#: Defaulted options no call outside the tests sets, each with why: the
#: Kafka transports' deployment settings, the simulator's inputs, the
#: formats of the encoded test vectors, and three hooks.
OPTIONS_ALLOWED = {
    "kafka_entity_source(topic)": _KAFKA,
    "kafka_entity_source(starting_offsets)": _KAFKA,
    "kafka_cdp_source(topic)": _KAFKA,
    "kafka_cdp_source(starting_offsets)": _KAFKA,
    "kafka_alert_sink(topic)": _KAFKA,
    "kafka_alert_sink(checkpoint)": _KAFKA,
    "kafka_cdp_sink(topic)": _KAFKA,
    "kafka_cdp_sink(checkpoint)": _KAFKA,
    "entity_event_generator(seed)": _SIM,
    "entity_event_generator(n_entities)": _SIM,
    "entity_event_generator(rps)": _SIM,
    "entity_event_generator(lateness_sec)": _SIM,
    "entity_event_generator(start_ms)": _SIM,
    "entity_event_generator(profile)": _SIM,
    "cdp_event_generator(seed)": _SIM,
    "cdp_event_generator(n_users)": _SIM,
    "cdp_event_generator(rps)": _SIM,
    "cdp_event_generator(lateness_sec)": _SIM,
    "cdp_event_generator(start_ms)": _SIM,
    "encode_jpeg_gray(restart_interval)": _JPEG,
    "encode_jpeg_color(subsampling)": _JPEG,
    "encode_jpeg_color(restart_interval)": _JPEG,
    "encode_jpeg_color(interleaved)": _JPEG,
    "with_admission(observation)": "the admission counters' hook; gate counters build on it",
    "segment_events(segments)": "entry point of the segment DSL",
    "segment_membership(segments)": "entry point of the segment DSL",
}


#: The environment variables the package reads, each with why.  An
#: environment read is an option no parameter gate sees; only settings of
#: the deployment, not of the engine's behaviour, belong here.
ENV_ALLOWED = {
    "SPARK_GRAFT_CPUS": "local[N] width of get_spark's session: the host's core budget",
    "PB_DRIVER_MEM": "spark.driver.memory of get_spark's session: the host's memory budget",
    "PYTHONPATH": "read to prepend the repo root for Spark's Python worker daemon",
}


def _py_files(roots: list[Path]) -> list[Path]:
    out: list[Path] = []
    for p in roots:
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def _trees(roots: list[Path]) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files(roots)}


def _package_defs(trees: dict[Path, ast.Module]):
    """(path, node) of every top-level function and class of the package."""
    for path, tree in trees.items():
        if PACKAGE in path.parents:
            for d in tree.body:
                if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    yield path, d


def _mentions(tree: ast.Module):
    """(identifier, line) of every name the code reads: Name and
    Attribute nodes, imported names, and string constants that are a
    whole identifier (registry keys, ``getattr`` names)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            yield node.value, node.lineno


def unreached_definitions() -> list[str]:
    """``path::name`` of the top-level functions and classes of the
    package that no file under ``CALLERS`` reads outside the definition's
    own lines (decorators included).  Prose — a docstring or comment
    naming a helper — is not a reader, and neither is a test."""
    trees = _trees(CALLERS)
    seen: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for path, tree in trees.items():
        for name, line in _mentions(tree):
            seen[name].append((path, line))
    out = []
    for path, d in _package_defs(trees):
        if d.name.startswith("__"):
            continue
        first = min([d.lineno] + [x.lineno for x in d.decorator_list])
        if not any(p != path or not first <= line <= d.end_lineno for p, line in seen[d.name]):
            out.append(f"{path.relative_to(ROOT)}::{d.name}")
    return sorted(out)


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    names = [p.arg for p in pos[len(pos) - len(a.defaults):]] if a.defaults else []
    return names + [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]


def unset_options() -> list[str]:
    """Defaulted parameters (positional or keyword-only) of top-level
    package functions that no call outside the tests passes — by
    keyword, by position, or through ``*``/``**``.  Calls match their
    callee by name (a Name or an Attribute); names the package defines
    twice are skipped, since a call cannot be told apart."""
    defs: dict[str, list[ast.FunctionDef]] = defaultdict(list)
    for _path, d in _package_defs(_trees([PACKAGE])):
        if not isinstance(d, ast.ClassDef):
            defs[d.name].append(d)
    fns = {name: ds[0] for name, ds in defs.items() if len(ds) == 1}
    set_by_call: dict[str, set[str]] = defaultdict(set)
    for tree in _trees(CALLERS).values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in fns:
                continue
            a = fns[name].args
            pos = [p.arg for p in a.posonlyargs + a.args]
            for i, arg in enumerate(node.args):
                if isinstance(arg, ast.Starred):
                    set_by_call[name].update(pos[i:])
                    break
                set_by_call[name].update(pos[i:i + 1])
            for kw in node.keywords:
                if kw.arg is None:
                    set_by_call[name].update(pos + [p.arg for p in a.kwonlyargs])
                else:
                    set_by_call[name].add(kw.arg)
    return sorted(
        f"{name}({p})"
        for name, fn in fns.items()
        for p in _defaulted(fn)
        if p not in set_by_call[name]
    )


def test_every_package_definition_is_read_outside_tests():
    """A definition only the tests read has no caller: it goes, or it is
    allow-listed for one of ``READER_REASONS`` ("a test calls it" is not
    one)."""
    unread = [d for d in unreached_definitions() if d.rsplit("::", 1)[1] not in UNREACHED_ALLOWED]
    assert unread == []
    assert set(UNREACHED_ALLOWED.values()) <= READER_REASONS


def test_reader_allow_list_is_current():
    """An entry that names no definition, or one that has a reader now,
    is stale."""
    unread = {d.rsplit("::", 1)[1] for d in unreached_definitions()}
    assert sorted(set(UNREACHED_ALLOWED) - unread) == []


def test_every_package_option_is_set_outside_tests():
    """One value in use is a constant, not an option: a defaulted
    parameter only the tests set (or nothing sets) doubles what must be
    covered for no caller.  A test that needs another value monkeypatches
    the module constant instead."""
    assert [o for o in unset_options() if o not in OPTIONS_ALLOWED] == []


def test_option_allow_list_is_current():
    """An entry whose option no longer exists, or is now set outside the
    tests, is stale."""
    assert sorted(set(OPTIONS_ALLOWED) - set(unset_options())) == []


def environment_reads() -> list[tuple[str, object]]:
    """(``path:line``, key) of every ``os.environ.get(K)``,
    ``os.getenv(K)`` and load-context ``os.environ[K]`` in the package;
    the key is the constant, or None when it is not one."""
    out = []
    for path, tree in _trees([PACKAGE]).items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and node.args and ast.unparse(node.func) in ("os.environ.get", "os.getenv"):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load) and ast.unparse(node.value) == "os.environ":
                key = node.slice
            else:
                continue
            out.append((f"{path.relative_to(ROOT)}:{node.lineno}", key.value if isinstance(key, ast.Constant) else None))
    return out


def test_every_environment_read_is_a_deployment_setting():
    """An environment variable is a dial no parameter gate sees: every
    read names a constant key on ``ENV_ALLOWED``, with a reason."""
    bad = [f"{where}: {key}" for where, key in environment_reads() if key not in ENV_ALLOWED]
    assert bad == []
    assert all(ENV_ALLOWED.values())


def test_environment_allow_list_is_current():
    """An entry the package no longer reads is stale."""
    read = {key for _where, key in environment_reads()}
    assert sorted(set(ENV_ALLOWED) - read) == []


def test_consistency_gate_passes(monkeypatch, tmp_path, capsys):
    monkeypatch.chdir(tmp_path)
    spec = importlib.util.spec_from_file_location("check_consistency", ROOT / "tools" / "check_consistency.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main() == 0, capsys.readouterr().out
