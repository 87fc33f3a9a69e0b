"""Regrowth guard: every public top-level function or class in the
package must be named somewhere outside ``tests/``.

A reachability pass over source text, no Spark. The roots are the
package's module-level code, ``examples/``, ``tools/``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py``, the registered ``q_*`` queries and
``KEEP`` below. A name counts as used when a live chunk names it (code,
string or comment); the body of a name that nothing live names is not
live, so a helper called only by dead code is reported with it.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "spark_streaming_kafka_spark"
OUTSIDE_ROOTS = ["examples", "tools", "perfbench", "bench.py", "__spark_entry__.py"]

# Public API with no caller in the repo that stays on purpose.
KEEP = {
    "socket_stream_source": "SURVEY S7: reference socket DStream source",
    "kafka_batch_source": "SURVEY S8: reference Kafka batch read",
    "kafka_sink": "SURVEY S9: reference Kafka producer sink",
    "jdbc_read": "SURVEY S11: reference JDBC source",
    "jdbc_write": "SURVEY S11: reference JDBC sink",
    "redis_write": "SURVEY S12: reference Redis sink",
    "redis_hget_client": "SURVEY S13: reference Redis lookup",
    "mongo_write": "SURVEY S14: reference Mongo sink",
    "mongo_read": "SURVEY S15: reference Mongo source",
    "write_csv": "SURVEY S17: reference file sink",
    "write_parquet": "SURVEY S17: reference file sink",
    "console_sink": "SURVEY S18: reference console sink",
    "build_wordcount_pipeline": "rebuild of the reference kafka_streaming.py",
    "signature_buckets": "reference implementation that lsh_cosine_topk is tested against",
    "build_ratings": "DataFrame parity reference for RATINGS_SQL",
    "cdc_upsert_sink": "ROADMAP open item (cdc_apply)",
    "idempotent_parquet_sink": "ROADMAP open item",
    "falling_behind": "ROADMAP open item",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _chunks():
    """(owner, words) per chunk: owner is a top-level def's name, or None
    for text outside any def (always live)."""
    for rel in OUTSIDE_ROOTS:
        path = ROOT / rel
        for f in [path] if path.is_file() else sorted(path.rglob("*.py")):
            yield None, Counter(_WORD.findall(f.read_text()))
    for f in sorted(PKG.rglob("*.py")):
        lines = f.read_text().splitlines(keepends=True)
        owned = set()
        for node in ast.parse("".join(lines)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                start = node.decorator_list[0].lineno if node.decorator_list else node.lineno
                span = range(start - 1, node.end_lineno)
                owned.update(span)
                words = Counter(_WORD.findall("".join(lines[i] for i in span)))
                del words[node.name]  # its own definition
                yield node.name, words
        rest = "".join(line for i, line in enumerate(lines) if i not in owned)
        yield None, Counter(_WORD.findall(rest))


def unreferenced_public_names(chunks) -> list[str]:
    mortal = {o for o, _ in chunks if o and not o.startswith("q_") and o not in KEEP}
    dead: set[str] = set()
    while True:
        live = Counter()
        for owner, words in chunks:
            if owner not in dead:
                live.update(words)
        now = {n for n in mortal if not live[n]}
        if now == dead:
            return sorted(n for n in dead if not n.startswith("_"))
        dead = now


def test_no_public_name_only_tests_call():
    chunks = list(_chunks())
    assert not set(KEEP) - {owner for owner, _ in chunks}, "stale KEEP entries"
    dead = unreferenced_public_names(chunks)
    assert not dead, f"public names that only tests call: {dead}"
