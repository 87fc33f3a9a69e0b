"""Regrowth guard: every public top-level function or class in the
package must be named somewhere outside ``tests/``.

A reachability pass over source text, no Spark. The roots are the
package's module-level code, ``examples/``, ``tools/``, ``perfbench/``,
``bench.py``, ``__spark_entry__.py``, the registered ``q_*`` queries and
``KEEP`` below. A name counts as used when a live chunk names it (code,
string or comment); a module's own ``__all__`` list is not a use. The
body of a name that nothing live names is not live, so a helper called
only by dead code is reported with it.
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
    "hll_stream_monitor": "ROADMAP item 4: the streaming sketches",
    "kmv_stream_monitor": "ROADMAP item 4: the streaming sketches",
    "collect_boilerplate_dict": "gate_stream's only dictionary builder from "
    "boilerplate_shingles; input of the batch/stream parity test",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _is_all(node) -> bool:
    """A module-level ``__all__ = [...]`` / ``__all__ += [...]``."""
    targets = node.targets if isinstance(node, ast.Assign) else [getattr(node, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _chunks():
    """(owner, words) per chunk: owner is a top-level def's name, or None
    for text outside any def (always live). ``__all__`` lists belong to
    no chunk."""
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
            elif _is_all(node):
                owned.update(range(node.lineno - 1, node.end_lineno))
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


# --- behaviour options --------------------------------------------------
#
# An option is a public package function's parameter whose default is a
# bool, or a str the body compares with string literals: a switch
# between code paths. It counts as set when a call outside ``tests/``
# passes it by keyword or by position, forwarding the caller's own
# parameter of the same name aside. A switch nothing sets is a second
# path nothing runs.

# Options no caller sets that stay on purpose.
KEEP_OPTIONS = {
    "minhash_signatures.strategy": "the 'expr' path is the tests' Spark-native reference for the Arrow kernel",
    "simhash_fingerprints.strategy": "the 'expr' path is the tests' Spark-native reference for the Arrow kernel",
    "dedup_clusters.candidates": "the 'exact' path is the reference in test_dedup_clusters_minhash_default_matches_exact",
    "passjoin_edit_distance_pairs.candidates_only": "the candidate plan test_plan_audit inspects",
    "salted_join.how": "validated caller input",
    "write_csv.header": "SURVEY S17 sink setting",
    "console_sink.truncate": "SURVEY S18 sink setting",
}


def _options() -> dict[str, list[tuple[str, int | None]]]:
    """{function: [(option, positional index or None)]}."""
    out: dict[str, list[tuple[str, int | None]]] = {}
    for f in sorted(PKG.rglob("*.py")):
        for fn in ast.parse(f.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            compared = set()
            for n in ast.walk(fn):
                if isinstance(n, ast.Compare):
                    ops = [n.left, *n.comparators]
                    consts = [e for o in ops for e in getattr(o, "elts", [o])]
                    if any(isinstance(getattr(c, "value", None), str) for c in consts):
                        compared |= {o.id for o in ops if isinstance(o, ast.Name)}
            a = fn.args
            pos = a.posonlyargs + a.args
            defaults = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            defaults += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p, d in defaults:
                v = getattr(d, "value", None) if isinstance(d, ast.Constant) else None
                if isinstance(v, bool) or (isinstance(v, str) and p.arg in compared):
                    out.setdefault(fn.name, []).append((p.arg, pos.index(p) if p in pos else None))
    return out


def _set_options(options) -> set[str]:
    """``function.option`` for every option a call outside tests sets."""
    hit = set()

    def visit(node, params):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            params = params | {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

            def forwarded(value, opt):
                return isinstance(value, ast.Name) and value.id == opt and opt in params

            for opt, idx in options.get(name, ()):
                by_kw = any(
                    kw.arg is None or (kw.arg == opt and not forwarded(kw.value, opt))
                    for kw in node.keywords
                )
                by_pos = idx is not None and any(
                    isinstance(v, ast.Starred) or (i == idx and not forwarded(v, opt))
                    for i, v in enumerate(node.args)
                )
                if by_kw or by_pos:
                    hit.add(f"{name}.{opt}")
        for child in ast.iter_child_nodes(node):
            visit(child, params)

    for rel in ["spark_streaming_kafka_spark", *OUTSIDE_ROOTS]:
        path = ROOT / rel
        for f in [path] if path.is_file() else sorted(path.rglob("*.py")):
            visit(ast.parse(f.read_text()), frozenset())
    return hit


def test_no_option_only_tests_set():
    options = _options()
    declared = {f"{fn}.{opt}" for fn, opts in options.items() for opt, _ in opts}
    assert not set(KEEP_OPTIONS) - declared, "stale KEEP_OPTIONS entries"
    unset = sorted(declared - _set_options(options) - set(KEEP_OPTIONS))
    assert not unset, f"options no caller outside tests sets: {unset}"
