#!/usr/bin/env python
"""Per-query physical-plan stamps: mechanical detection of which queries
need a fresh driver row.

  python tools/plan_stamps.py             # stamp all queries at sf0.001
  python tools/plan_stamps.py --diff      # compare against PLAN_STAMPS.json
  python tools/plan_stamps.py --only a,b  # spot-stamp a subset

For every registered query it builds the DataFrame at sf0.001 and hashes
the normalized optimized logical plan (volatile run-local tokens: temp
checkpoint paths, uuid-suffixed memory-sink names, RDD ids, expression
ids, normalized here). Each stamp carries three hashes:

- ``plan``: the plan text. It moves on a plan-shape change or on a
  driver-computed literal (knob values, trained-model literals), also
  when only a shared helper changed.
- ``src``: the query function's own source. ``src`` moving alone is a
  comment or doc edit.
- ``closures``: the digest of every PACKAGE function the query's builder
  reaches, transitively (bytecode-level reference walk, AST-level hashing
  so comment/docstring edits don't churn). It catches edits inside a
  Python kernel body (applyInPandasWithState functions, pandas UDFs,
  Arrow kernels), which the plan shows only by name.

The committed ``PLAN_STAMPS.json`` describes HEAD, and
``plans/rNN/PLAN_STAMPS.json`` snapshots the stamps a driver round
verified. The verification rotation (``queries/rotation.py``) fronts
every query whose stamp moved since that snapshot, under the one rule
``rotation.stamp_moved``; ``--diff`` applies the same rule against the
committed file, so restamping is the whole rotation step.

Cost note: batch queries stamp lazily (no job runs — plan-only, ~0.1 s
each). Streaming queries EXECUTE on call (their returned DataFrame is the
read-back of a memory sink / state store), so a full stamp run costs a few
minutes at sf0.001. Stamps are stable across processes on one machine and
Spark version (pinned by tests/test_plan_stamps.py); ``fan_out`` plans
embed the core count, so stamp with ``SPARK_GRAFT_CPUS=32``, the driver's
width.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from spring_cloud_kafka_streams_dbz_etl_spark.queries.rotation import stamp_moved  # noqa: E402

STAMP_FILE = os.path.join(REPO, "PLAN_STAMPS.json")
DEFAULT_SF = os.environ.get("SPARK_GRAFT_STAMP_SF", "/root/testdata/sf0.001")

# Volatile run-local tokens, normalized before hashing. Order matters:
# paths first (they may contain hex runs), then bare hex runs.
_NORMALIZERS: list[tuple[re.Pattern[str], str]] = [
    # the no_pushdown guard (functions/scalars.py): uuid() gets a fresh
    # random seed per expression instance — a signed DECIMAL literal the
    # bare-hex rule only sometimes swallowed (digits are hex chars, but
    # the sign and <8-digit seeds leaked). Normalize the whole call...
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(<SEED>)"),
    # ...and both canonicalization orders of the guard comparison:
    # canonicalized() orders commutative comparisons by child hash, which
    # depends on the random seed, so `length(uuid) > -1` and
    # `-1 < length(uuid)` alternate run to run (caught r14 on
    # q_cdc_envelope_parse / s_dlq_split).
    (re.compile(r"\(-1 < length\(uuid\(<SEED>\)\)\)"), "(uuid_guard)"),
    (re.compile(r"\(length\(uuid\(<SEED>\)\) > -1\)"), "(uuid_guard)"),
    # higher-order-function lambda variables are named from a global
    # JVM-wide counter (lambda x_1, x_6, ..., and y_/z_ for the extra
    # args of binary lambdas like aggregate's merge fn) that depends on
    # how many HOF plans the session built before this one — pure
    # stamping order, not plan shape (caught r14 on q_curation_near_dup,
    # then again on q_quality_score's y_N).
    (re.compile(r"\blambda ([a-z]+)_\d+"), r"lambda \1_N"),
    # temp checkpoint/source dirs (tempfile.mkdtemp) and anything under
    # the system temp root, including when suffixed with [...] or quoted
    (re.compile(r"(?:file:)?/(?:tmp|var/folders)/[^\s\],)]+"), "<TMP>"),
    # spark-warehouse / derby side paths embedded by some sinks
    (re.compile(re.escape(REPO) + r"/[^\s\],)]+"), "<REPO>"),
    # uuid-suffixed memory-sink / stream names (chain_ab12cd34, cfeed_...)
    # and any >=8-char hex run (uuids, digest literals in temp names).
    # The run must contain at least one letter: a pure-digit run is a
    # decimal literal (e.g. a knob constant like 100000000), and
    # swallowing those would hide exactly the plan-literal changes this
    # tool exists to detect (ADVICE r14).
    (
        re.compile(r"(?=[0-9a-fA-F]*[a-fA-F])[0-9a-fA-F]{8,}"),
        "<HEX>",
    ),
    # expression ids survive canonicalization in some fallback paths
    (re.compile(r"#\d+L?"), "#x"),
    # cached-plan internals: RDD ids / storage-level object addresses
    (re.compile(r"\b(?:rdd_|MapPartitionsRDD\[)\d+\]?"), "<RDD>"),
    (re.compile(r"@[0-9a-f]{6,}", re.IGNORECASE), "@obj"),
    # plans that embed PHYSICAL fragments (InMemoryRelation cache
    # builders, executed subqueries) carry [plan_id=N] from a global
    # monotonic counter — differs across (and even within) sessions.
    # Caught in r14: q_tpch_q2 stamped differently on two back-to-back
    # builds in ONE session, and 30+ cache-using queries false-diffed
    # against the committed stamps.
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=x]"),
    # AQE stage ids inside embedded executed fragments (cached relations
    # / executed subqueries): Broadcast/Shuffle/TableCache QueryStage
    # numbers follow runtime MATERIALIZATION order, which races across
    # runs (caught r14 on q_perplexity_filter: BroadcastQueryStage 6 vs
    # 5 for the identical stage).
    (re.compile(r"\b(\w*QueryStage)[ -]\d+"), r"\1 N"),
    # ... and the whole-stage-codegen ids on the same embedded physical
    # fragments (`*(4) HashAggregate` vs `*(3)`) — numbered by the same
    # racing materialization order. Span COUNT still distinguishes plans
    # (a lost codegen span changes the text); only the label is noise.
    (re.compile(r"\*\(\d+\) "), "*(N) "),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
]


def _sort_multicommutative(plan: str) -> str:
    """Canonicalized() orders the operands of commutative AND/OR
    (`multicommutativeop(a, b, ..., class ...And, None)`) by expression
    HASHCODE — which incorporates raw exprIds from the session-global
    counter, so the printed operand ORDER depends on how many
    expressions the session allocated before this plan (caught r14:
    q_tpch_q2's bloom-filter conjuncts swapped places after ~200 other
    queries were stamped first). Re-sort each operand list
    lexicographically on the NORMALIZED text, innermost lists first so
    nested commutative ops canonicalize bottom-up."""
    token = "multicommutativeop("
    start = plan.find(token)
    if start == -1:
        return plan
    body_at = start + len(token)
    depth, i = 1, body_at
    while depth and i < len(plan):
        depth += {"(": 1, ")": -1}.get(plan[i], 0)
        i += 1
    # sort nested occurrences first so the outer sort compares the
    # already-canonical inner text
    body = _sort_multicommutative(plan[body_at : i - 1])
    args, buf, d = [], [], 0
    for ch in body:
        if ch == "," and d == 0:
            args.append("".join(buf).strip())
            buf = []
        else:
            d += {"(": 1, ")": -1}.get(ch, 0)
            buf.append(ch)
    args.append("".join(buf).strip())
    if len(args) >= 4:
        body = ", ".join(sorted(args[:-2]) + args[-2:])  # class/evalMode stay
    return plan[:body_at] + body + ")" + _sort_multicommutative(plan[i:])


_COMMON_EXPR = re.compile(r"_common_expr_\d+")


def _renumber_common_exprs(plan: str) -> str:
    """Catalyst's common-subexpression rewrite (e.g. NULLIF ->
    ``if (x = 0) null else x`` under a With) names its aliases
    ``_common_expr_N`` from a SESSION-GLOBAL counter — the suffix
    depends on how many such rewrites the session performed before this
    plan, pure stamping order rather than plan shape (caught r16 on
    q_nullsafe_join: isolated processes stamp _common_expr_0/1, a full
    sweep stamps _common_expr_1/2 — two stable hashes for one plan).
    Renumber by order of FIRST APPEARANCE, not a global collapse, so
    distinct common exprs within one plan stay distinguishable and a
    real rewiring still changes the stamp."""
    seen: dict[str, str] = {}

    def sub(m: re.Match[str]) -> str:
        tok = m.group(0)
        if tok not in seen:
            seen[tok] = f"_common_expr_<{len(seen)}>"
        return seen[tok]

    return _COMMON_EXPR.sub(sub, plan)


def normalize(plan: str) -> str:
    for pat, repl in _NORMALIZERS:
        plan = pat.sub(repl, plan)
    return _sort_multicommutative(_renumber_common_exprs(plan))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# Closure digests (VERDICT r14 ask #2)
#
# A query's optimized plan shows a Python kernel only as an opaque
# reference (FlatMapGroupsInPandasWithState <func>, ArrowEvalPython ...),
# so edits INSIDE the kernel body change results without changing the
# plan stamp or the query function's own source. The closure digest
# hashes every package-local function the query's builder can reach:
# starting from the query function, walk its bytecode for references
# (module-level names, module.attr chains, in-function imports, default
# args, closure cells), keep the ones that are functions or classes
# defined in this package, and recurse. Each reached function is hashed
# at the AST level (docstrings stripped, comments already absent) so
# prose edits don't churn 253 stamps, but ANY logic edit — including one
# inside a nested kernel, which is part of its enclosing function's AST —
# moves every transitive consumer's digest.
# ---------------------------------------------------------------------------

_PKG_PREFIXES = ("spring_cloud_kafka_streams_dbz_etl_spark",)


def _in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod.split(".")[0] in _PKG_PREFIXES


def _ast_hash(fn) -> str:
    """Semantic hash of one function: AST dump with docstrings stripped.
    Falls back to bytecode for source-less functions (C impls, REPL)."""
    import ast
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(inspect.unwrap(fn)))
        tree = ast.parse(src)
        for node in ast.walk(tree):
            body = getattr(node, "body", None)
            if (
                isinstance(body, list)
                and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
        return _sha(ast.dump(tree))
    except (OSError, TypeError, SyntaxError):
        code = getattr(fn, "__code__", None)
        return _sha(code.co_code.hex() if code else repr(fn))


def _iter_codes(code):
    yield code
    for const in code.co_consts:
        if hasattr(const, "co_code"):
            yield from _iter_codes(const)


def _resolve_module(name: str, from_module: str, level: int):
    """Resolve an IMPORT_NAME target. ``level`` is the relative-import
    depth (the LOAD_CONST preceding IMPORT_NAME): 0 = absolute,
    1 = `from .x`, 2 = `from ..x`, ..."""
    import importlib

    try:
        if level == 0:
            return importlib.import_module(name)
        pkg = from_module.rsplit(".", 1)[0] if "." in from_module else ""
        return importlib.import_module("." * level + name, pkg)
    except Exception:
        return None


def _referenced(fn) -> list:
    """Objects a function's bytecode can statically reach: globals,
    module.attr chains, `from x import y` inside the body, defaults,
    and closure cells."""
    import dis
    import types

    objs: list = []
    if getattr(fn, "__defaults__", None):
        objs.extend(fn.__defaults__)
    if getattr(fn, "__closure__", None):
        for cell in fn.__closure__:
            try:
                objs.append(cell.cell_contents)
            except ValueError:
                pass
    g = getattr(fn, "__globals__", {})
    missing = object()
    for code in _iter_codes(fn.__code__):
        chain = missing  # value of the attribute chain being walked
        last_import = None
        last_const = None  # IMPORT_NAME's level operand rides in a const
        for ins in dis.get_instructions(code):
            op = ins.opname
            if op in ("LOAD_GLOBAL", "LOAD_NAME"):
                chain = g.get(ins.argval, missing)
                if chain is not missing:
                    objs.append(chain)
            elif op in ("LOAD_ATTR", "LOAD_METHOD") and chain is not missing:
                chain = getattr(chain, ins.argval, missing)
                if chain is not missing:
                    objs.append(chain)
            elif op == "IMPORT_NAME":
                level = last_const if isinstance(last_const, int) else 0
                last_import = _resolve_module(
                    ins.argval, fn.__module__, level
                )
                if last_import is not None:
                    chain = last_import
            elif op == "IMPORT_FROM" and last_import is not None:
                got = getattr(last_import, ins.argval, missing)
                if got is not missing:
                    objs.append(got)
            elif op == "LOAD_CONST":
                # remember it for IMPORT_NAME's level operand, two
                # instructions later (level, fromlist, IMPORT_NAME)
                if isinstance(ins.argval, int):
                    last_const = ins.argval
                chain = missing
            else:
                chain = missing
    return [o for o in objs if isinstance(o, (types.FunctionType, type))]


def closure_entries(root_fn) -> dict[str, str]:
    """{module.qualname: ast_hash} for every package function reachable
    from ``root_fn`` (the root itself excluded — its source is already
    stamped as ``src``)."""
    import types

    root = inspect.unwrap(root_fn)
    entries: dict[str, str] = {}
    seen: set[str] = set()
    work: list = [root]
    root_key = f"{root.__module__}.{root.__qualname__}"
    while work:
        fn = work.pop()
        key = f"{fn.__module__}.{fn.__qualname__}"
        if key in seen:
            continue
        seen.add(key)
        if key != root_key:
            entries[key] = _ast_hash(fn)
        for obj in _referenced(fn):
            if isinstance(obj, types.FunctionType) and _in_package(obj):
                work.append(obj)
            elif isinstance(obj, type) and _in_package(obj):
                for member in vars(obj).values():
                    if isinstance(member, (staticmethod, classmethod)):
                        member = member.__func__
                    if isinstance(member, types.FunctionType):
                        work.append(member)
    return entries


def closure_digest(root_fn) -> str:
    entries = closure_entries(root_fn)
    return _sha("\n".join(f"{k}:{v}" for k, v in sorted(entries.items())))


def plan_text(df) -> str:
    """Normalized RAW optimized logical plan.

    NOT canonicalized(): canonicalization re-orders commutative
    operands and subquery aggregate lists by expression HASHCODE, which
    incorporates raw exprIds from the session-global counter — so its
    text depends on how many expressions the session allocated before
    this plan (r14 chased four rounds of such flakes: plan_id counters,
    uuid seeds, HOF lambda counters, conjunct order, FILTER-aggregate
    list order). The raw plan prints operands in written order —
    deterministic given a deterministic optimizer — and keeps real
    attribute names, which after the #\\d+ -> #x normalization is
    strictly MORE distinguishing than canonicalized's all-`none`
    renaming. Tradeoff (documented): two same-named attributes from a
    self-join collapse to the same normalized token, so a pure binding
    swap with identical text would go undetected — canonicalized had
    the same blindness post-normalization."""
    qe = df._jdf.queryExecution()
    return normalize(qe.optimizedPlan().toString())


def stamp_one(spark, name: str, spec, sf_dir: str) -> dict[str, str]:
    # Cache substitution is GLOBAL and plan-matched: a query stamped
    # earlier that .cache()d a scan makes every later query over the
    # same relation optimize to InMemoryRelation, so its stamp would
    # depend on stamping ORDER (caught r14 on q_tpch_q21 after
    # memory-table caches from the s_* sweep). Stamp cache-free.
    spark.catalog.clearCache()
    df = spec.fn(spark, sf_dir)
    src = inspect.getsource(inspect.unwrap(spec.fn))
    text = plan_text(df)
    dump_dir = os.environ.get("PLAN_STAMPS_DUMP_DIR")
    if dump_dir:  # debugging aid: inspect the normalized text behind a hash
        with open(os.path.join(dump_dir, f"{name}.plan.txt"), "w") as f:
            f.write(text)
    return {
        "plan": _sha(text),
        "src": _sha(src),
        "closures": closure_digest(spec.fn),
    }


def run(sf_dir: str, only: set[str] | None) -> dict[str, dict[str, str]]:
    from spring_cloud_kafka_streams_dbz_etl_spark.queries import all_queries
    from spring_cloud_kafka_streams_dbz_etl_spark.session import get_spark

    spark = get_spark("plan-stamps")
    stamps: dict[str, dict[str, str]] = {}
    specs = all_queries()
    todo = [n for n in specs if only is None or n in only]
    for i, name in enumerate(sorted(todo), 1):
        try:
            stamps[name] = stamp_one(spark, name, specs[name], sf_dir)
        except Exception as exc:  # stamp failures are findings, not aborts
            stamps[name] = {"plan": f"ERROR:{type(exc).__name__}", "src": ""}
        print(f"[{i}/{len(todo)}] {name} {stamps[name]['plan']}", file=sys.stderr)
    return stamps


def diff(new: dict[str, dict[str, str]]) -> int:
    try:
        with open(STAMP_FILE) as f:
            old = json.load(f)
    except (OSError, ValueError):
        print("no prior PLAN_STAMPS.json — nothing to diff", file=sys.stderr)
        return 0
    changed, added, removed = [], [], sorted(set(old) - set(new))
    variants = []
    for name, st in sorted(new.items()):
        if name not in old:
            added.append(name)
        elif not stamp_moved(name, old[name], st):
            if old[name]["plan"] != st["plan"]:
                variants.append(name)
        elif old[name]["plan"] == st["plan"]:
            changed.append(
                (name, "closure-only (Python kernel/helper body change!)")
            )
        elif old[name].get("src") != st.get("src"):
            changed.append((name, "plan+src"))
        else:
            changed.append((name, "plan-only (transitive helper change!)"))
    for name, kind in changed:
        print(f"CHANGED {name}  [{kind}]")
    for name in variants:
        print(f"VARIANT {name}  [known Spark-internal gid ordering; src unchanged]")
    for name in added:
        print(f"NEW     {name}")
    for name in removed:
        print(f"REMOVED {name}")
    if changed:
        print(
            f"\n{len(changed)} plan(s) changed since the committed stamps — "
            "each needs a fresh driver row: commit the restamped PLAN_STAMPS.json "
            "and queries/rotation.py fronts it in the next window.",
            file=sys.stderr,
        )
    return 1 if changed else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--only", default=None, help="comma-separated names")
    ap.add_argument("--diff", action="store_true",
                    help="compare against committed stamps; don't rewrite")
    ap.add_argument("--out", default=STAMP_FILE)
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None
    stamps = run(args.sf, only)
    if args.diff:
        sys.exit(diff(stamps))
    if only:
        # spot-stamp: merge into the existing file instead of truncating
        try:
            with open(args.out) as f:
                merged = json.load(f)
        except (OSError, ValueError):
            merged = {}
        merged.update(stamps)
        stamps = merged
    with open(args.out, "w") as f:
        json.dump(dict(sorted(stamps.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {len(stamps)} stamps to {args.out}", file=sys.stderr)


if __name__ == "__main__":
    main()
