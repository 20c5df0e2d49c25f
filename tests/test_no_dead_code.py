"""Dead-code guard (no Spark): every top-level def or class in the package
and ``__spark_entry__.py`` must be referenced by some non-test module —
the package itself, the entry point, the bench/tool scripts or the oracle
sweep.  A reference is any name, attribute, import or identifier string
(getattr-style lookups).  Surfaces that only tests exercise must be
listed below with the reason they stay."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "govuk_crawler_worker_spark"

ALLOWED = {
    "StreamingDrain": "Structured Streaming front-end to the drain; library entry point",
    "windowed_event_counts": "streaming window operator; a library entry point",
    "session_window_counts": "streaming session-window operator; a library entry point",
    "host_rate_violations": "stateful streaming politeness audit; a library entry point",
    "run_checks": "healthcheck entry point for deployments",
    "healthcheck_json": "healthcheck entry point for deployments",
    "fingerprint_py": "pure-Python reference twin of the columnar fingerprint",
    "xxhash64_of_string_sql": "SQL reference twin of Spark's xxhash64 for the oracles",
    "resample_linear": "fixture builder for audio test inputs",
    "encode_video": "fixture builder for video test inputs",
}


def _is_test(path: pathlib.Path) -> bool:
    return path.name.startswith("test_") or path.name == "conftest.py"


def _sources() -> list[pathlib.Path]:
    out = []
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if any(p.startswith(".") or p == "__pycache__" for p in rel.parts):
            continue
        out.append(path)
    return sorted(out)


def _definitions() -> dict[str, str]:
    files = sorted(PACKAGE.rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    defs = {}
    for path in files:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name] = str(path.relative_to(ROOT))
    return defs


def _references() -> set[str]:
    refs = set()
    for path in _sources():
        if _is_test(path):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value.isidentifier():
                    refs.add(node.value)
    return refs


def test_every_definition_has_a_non_test_caller():
    refs = _references()
    dead = {
        name: where
        for name, where in _definitions().items()
        if name not in refs and name not in ALLOWED
    }
    assert not dead, f"unreferenced outside tests: {dead}"


def test_allowlist_is_exact():
    # an entry that gained a real caller, or lost its definition, must go
    defs, refs = _definitions(), _references()
    stale = {n for n in ALLOWED if n not in defs or n in refs}
    assert not stale, f"stale allowlist entries: {sorted(stale)}"


# the drain's batch path and the fetch paths are split into stage functions;
# a function past this length is a monolith growing back
MAX_FUNCTION_LINES = 200
LENGTH_GUARDED = (
    "plans/pipeline.py",
    "streaming/drain.py",
    "plans/fetch.py",
    "plans/robots.py",
)


def test_drain_functions_stay_short():
    long = {}
    for rel in LENGTH_GUARDED:
        path = PACKAGE / rel
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n = node.end_lineno - node.lineno + 1
                if n > MAX_FUNCTION_LINES:
                    long[f"{rel}:{node.name}"] = n
    assert not long, f"functions over {MAX_FUNCTION_LINES} lines: {long}"
