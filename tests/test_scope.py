"""One owner for scoped session conf (catalog.conf_scope) and per-call
notes (catalog.note / notes): notes belong to the calling thread's
outermost registered call, and only the declared sites write session
conf or read the shuffle width."""

from __future__ import annotations

import ast
import threading
from pathlib import Path

import keycloak_event_stream_spark
from keycloak_event_stream_spark.catalog import note, notes

PKG = Path(keycloak_event_stream_spark.__file__).parent
WIDTH = "spark.sql.shuffle.partitions"


def test_notes_belong_to_the_threads_outermost_call(spark, register):
    """Two threads note concurrently and each sees only its own notes;
    a nested registered call's note lands in its outermost call's
    notes; the thread's next outermost call drops them."""
    both_inside = threading.Barrier(2, timeout=120)

    def inner(spark, tag):
        note("inner", tag)
        return spark.range(1)

    inner_q = register("t_inner", inner)

    def outer(spark, tag):
        both_inside.wait()
        note("outer", tag)
        inner_q(spark, tag)
        both_inside.wait()  # the other thread has noted too
        return spark.range(1)

    outer_q = register("t_outer", outer)
    probe = register("t_probe", lambda spark, tag: spark.range(1))
    seen, errors = {}, []

    def run(tag):
        try:
            outer_q(spark, tag)
            after_call = dict(notes())
            probe(spark, tag)
            seen[tag] = (after_call, dict(notes()))
        except Exception as exc:  # surfaced below, not lost in the thread
            errors.append(exc)
            both_inside.abort()

    threads = [threading.Thread(target=run, args=(tag,)) for tag in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert seen == {
        tag: ({"outer": tag, "inner": tag}, {}) for tag in "ab"
    }


def _sites(match) -> set[tuple[str, str | None]]:
    """(module path, top-level function) of every call in the package
    that ``match`` accepts."""
    found = set()

    def visit(node, fn, rel):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, fn or child.name, rel)
                continue
            if isinstance(child, ast.Call) and match(child):
                found.add((rel, fn))
            visit(child, fn, rel)

    for path in sorted(PKG.rglob("*.py")):
        visit(ast.parse(path.read_text()), None, path.relative_to(PKG).as_posix())
    return found


def _conf_write(call: ast.Call) -> bool:
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr in ("set", "unset")):
        return False
    owner = f.value
    return (isinstance(owner, ast.Attribute) and owner.attr == "conf") or (
        isinstance(owner, ast.Name) and owner.id == "conf"
    )


def _width_read(call: ast.Call) -> bool:
    f = call.func
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "get"
        and bool(call.args)
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == WIDTH
    )


def test_conf_written_only_by_conf_scope_and_declared_per_call_sets():
    """Every scoped conf change goes through catalog.conf_scope; the
    only other writes are the three per-call sets a caller-supplied
    session needs (get_spark declares them)."""
    assert _sites(_conf_write) == {
        ("catalog.py", "conf_scope"),
        ("catalog.py", "load_table"),
        ("streaming/queries.py", "read_stream_events"),
        ("sources/pygen.py", "read_eventgen"),
    }


def test_shuffle_width_read_only_by_its_owners():
    """The session width is read by catalog (eval_width: the eval and
    basket widths), the streaming replay and _scale._num_partitions;
    every other width is one of those."""
    reads = _sites(_width_read)
    assert ("operators/_scale.py", "_num_partitions") in reads
    assert {site for site in reads if site[0] != "catalog.py"} == {
        ("streaming/queries.py", "_drain"),
        ("operators/_scale.py", "_num_partitions"),
    }
