"""Every top-level function and class in the package has a production
caller: its name appears somewhere outside its own definition in the
package, bench.py, __spark_entry__.py or perfbench/. A definition only
tests reach is a second implementation in waiting; it either gets a
caller, gets deleted, or is listed below with the reason it stays."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "cassandra_sstable_to_protocolbuf_spark"

# name -> why it stays without a production caller (one line each)
ALLOWED = {
    "S3CommitBackend": "S3 conditional-write commit backend a deployment "
                       "installs; tested against a mock S3 transport",
    "read_event_stream": "file-based event stream source of the "
                         "streaming library surface",
    "hourly_windowed_agg": "streaming twin of relational.events_hourly",
    "sessionize": "session-window aggregation of the streaming library "
                  "surface",
    "run_stream_to_memory": "drives a streaming query into a memory sink "
                            "for inspection",
}


def _sources() -> list[pathlib.Path]:
    return sorted([*PACKAGE.rglob("*.py"), REPO / "bench.py",
                   REPO / "__spark_entry__.py",
                   *(REPO / "perfbench").rglob("*.py")])


def _top_level_defs(path: pathlib.Path):
    tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            first = min([node.lineno]
                        + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno


def _orphans() -> list[str]:
    word = re.compile(r"\w+")
    texts = {p: p.read_text(encoding="utf-8") for p in _sources()}
    total = Counter(w for text in texts.values() for w in word.findall(text))
    orphans = []
    for path in sorted(PACKAGE.rglob("*.py")):
        lines = texts[path].splitlines()
        for name, first, last in _top_level_defs(path):
            own = sum(word.findall(line).count(name)
                      for line in lines[first - 1:last])
            if total[name] == own:
                orphans.append(f"{path.relative_to(REPO)}:{first} {name}")
    return orphans


def test_no_orphan_definitions():
    unexpected = [o for o in _orphans() if o.split()[-1] not in ALLOWED]
    assert not unexpected, (
        "top-level definitions with no caller outside tests -- delete "
        "them or add an ALLOWED entry with its reason:\n"
        + "\n".join(unexpected))


def test_allowlist_is_current():
    """An ALLOWED name that gained a caller (or was deleted) leaves."""
    orphaned = {o.split()[-1] for o in _orphans()}
    assert sorted(set(ALLOWED) - orphaned) == []
