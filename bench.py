#!/usr/bin/env python
"""Benchmark harness: run the query catalog at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Output contract (VERDICT r5 item 8): the driver archives only the LAST ~2000
characters of stdout and tries to parse them, so stdout's final line is a
COMPACT self-contained summary (totals, compare verdict, the slowest queries)
guaranteed to fit the driver's window, while the FULL per-query detail —
every field rounds 1-5 printed — is written to $SPARK_GRAFT_BENCH_FULL
(default BENCH_full_latest.json next to this script). `--compare` reads
prior runs from such full files; nothing is lost, it just moved off stdout.

Per-query timing = wall-clock of a full materialization (count of the result;
the driver collects separately). One warm-up pass (JVM + parquet footer cache)
precedes timing, matching BASELINE.md's protocol.

Two tiers per query (BASELINE.md argued the ~0.3-1 s/query floor is mostly
plan/codegen constant — this measures it instead of asserting it):
  - cold: first timed execution in the session (includes analysis, codegen
    compilation, JIT warm-up for that plan shape) — `queries` / `value`,
    field names unchanged for cross-round comparability;
  - warm: median of 3 re-executions (codegen cache hot, data NOT cached —
    spark.catalog.clearCache() runs between every execution, so warm still
    reads parquet and shuffles; it is steady-state re-execution cost, the
    number that extrapolates to a long-running cluster) — `queries_warm` /
    `value_warm`.

Set SPARK_GRAFT_BENCH_WARM=0 to skip the warm tier (cold-only, ~4x faster).

`--compare PRIOR.json` emits the drift-normalized round-over-round read
(BASELINE.md errata protocol, automated per VERDICT r4 item 4): per-query
ratios vs the prior run's cold tier are divided by the median ratio over
queries present in both runs (host drift is uniform — measured 1.15-1.36x
across four r4 re-runs — so the median isolates real plan changes), and
queries whose normalized ratio exceeds 2x are flagged in `regressions`.
The compare fields ride along in the same single JSON line.

`--adjudicate CURRENT.json PRIOR.json` (VERDICT r8 item 6) runs NO queries:
it compares two existing full-bench JSONs (typically the driver's artifact
vs the round's committed pin) and, for every >2x normalized flag, reports
the adjudication evidence the judge has been re-deriving by hand two rounds
running — (a) the query's cold/warm spread across the round's committed
builder runs (``--runs GLOB``, default BENCH_full_r*.json next to this
script), and (b) whether the query's OPERATOR PATH changed this round
(``--since REF``, default: the newest commit touching a CORRECTNESS_r*.json
STRICTLY BEFORE HEAD — the round boundary; ``--until REF`` defaults HEAD,
pass the round's closing commit to replay a past round's adjudication).
The change map is FUNCTION-level (VERDICT r9 item 4): each query fn's
transitive callees — module-attribute calls, classes, and referenced
module constants included — are AST-resolved and intersected with the
top-level symbols whose AST actually differs between the refs, so a query
living in a touched file is only marked ``plan-change`` when something on
its own call path changed. Flags with an untouched path self-clear on any
of (r11, VERDICT r10 item 4 — the warm tier now has the same mechanical
rules the cold tier got): committed-spread stability, the current cold OR
warm reading sitting inside the committed-run envelope (≤15% or the 0.3 s
noise floor past the committed max — the isolated-rerun check done by
hand in r9/r10, mechanized), or a rotation-position move into the run's
first ~20 slots on a ≤2 s query (early-session JIT, measured 0.6-1.5 s).
Verdict per flag: ``tenancy-spike`` (path untouched + any evidence, with
the ``evidence`` list attached), ``plan-change`` (path touched —
investigate), or ``inconclusive``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG
from amazon_fresh_sql_data_engineering_spark.session import build_session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = build_session(app_name="bench")

    # Warm-up: touch every table + run the flagship once (JIT, codegen,
    # parquet footers), and spin up the Python UDF workers + Arrow codepath
    # with a synthetic one-column UDF (shares no plan/cache with any catalog
    # query, so nothing timed below gets pre-computed). Not timed.
    CATALOG["q_high_value"].fn(spark, sf_dir).count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s: pd.Series) -> pd.Series:
        return s * 1.0

    @pandas_udf("array<long>")
    def _warm_arr(s: pd.Series) -> pd.Series:
        return pd.Series([[v] for v in s])

    df = spark.range(10000)
    df.select(_warm(F.col("id").cast("double"))).count()
    df.select(F.explode(_warm_arr(F.col("id")))).count()

    # Codegen/JIT shape warm-up for the two measured cold-order artifacts
    # (VERDICT r6 item 3): the session's FIRST lower()-filter and FIRST
    # non-equi broadcast (nested-loop) join pay one-time operator-class
    # JIT + codegen costs that landed on whichever catalog query ran them
    # first (op_filter_ci 10x cold, op_range_join 2.7x cold — both warm-
    # normalized ~1.0). Warm those operator shapes on synthetic frames
    # that share no plan, table, or cache with any catalog query.
    s = spark.range(2048).select(
        F.concat(F.lit("WaRm"), F.col("id").cast("string")).alias("t"), "id"
    )
    s.filter(F.lower(F.col("t")) == "warm7").count()
    s.filter(F.lower(F.col("t")).contains("arm1")).count()
    spans = spark.range(64).select(
        F.col("id").alias("lo"), (F.col("id") + 3).alias("hi")
    )
    s.join(
        F.broadcast(spans),
        (F.col("id") >= F.col("lo")) & (F.col("id") <= F.col("hi")),
    ).count()

    # Per-process persistent fixtures, built untimed (VERDICT r6 item 4):
    # the PIPE-CLEAN staged parquet (so cleaning timings measure cleaning)
    # and the on-disk minhash store (so dedup_store_probe times the PROBE —
    # the recurring operation — not the one-time store accretion).
    from amazon_fresh_sql_data_engineering_spark.queries_etl import prestage_fixtures

    prestage_fixtures(spark, sf_dir)
    from amazon_fresh_sql_data_engineering_spark.queries_ext import (
        prestage_fixtures as prestage_ext,
    )

    prestage_ext(spark, sf_dir)

    warm_runs = 3 if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0" else 0

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        dt = time.perf_counter() - t0
        # drop caches an operator persisted internally (LSH signatures,
        # iterative labels) so no run's memory footprint leaks into the next
        spark.catalog.clearCache()
        # clearCache() does NOT free localCheckpoint RDD blocks — the
        # ContextCleaner only reaps them after a JVM GC notices the dropped
        # references, which lags a busy sequential loop. Leaked blocks
        # accumulate across 225 queries x 4 executions, squeeze execution
        # memory, and inflate later queries' timings (measured: untouched
        # queries 4-8x slower late in the run). Unpersist them explicitly.
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist()
        return dt

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name, spec in CATALOG.items():
        timings[name] = round(timed(spec.fn), 4)
        if warm_runs:
            reps = sorted(timed(spec.fn) for _ in range(warm_runs))
            warm[name] = round(reps[len(reps) // 2], 4)

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "catalog_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
        "spark_version": spark.version,
    }
    if warm:
        out["value_warm"] = round(sum(warm.values()), 4)
        out["queries_warm"] = warm
    if "--compare" in sys.argv:
        prior_path = sys.argv[sys.argv.index("--compare") + 1]
        out.update(compare_to_prior(timings, prior_path, warm))

    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full_latest.json"),
    )
    with open(full_path, "w") as fh:
        json.dump(out, fh)
        fh.write("\n")
    print(json.dumps(summarize(out, full_path)))
    spark.stop()


def summarize(out: dict, full_path: str, limit: int = 1900) -> dict:
    """Compact single-line summary bounded to ``limit`` bytes: everything the
    judge needs (totals, drift-normalized compare verdict, slowest queries)
    without the 226-entry per-query dicts that overflow the driver's tail."""
    summary = {
        k: out[k]
        for k in (
            "metric", "value", "value_warm", "unit", "sf", "n_queries",
            "spark_version",
        )
        if k in out
    }
    summary["full"] = full_path
    if "compare" in out:
        c = out["compare"]
        summary["compare"] = {
            k: c[k]
            for k in ("prior", "common", "drift_median_ratio", "normalized_total_ratio")
            if k in c
        }
        # regression names + cold/warm normalized ratios (details in the
        # full file); warm is the steady-state arbiter — cold is order-
        # dependent (see compare_to_prior)
        summary["compare"]["regressions"] = {
            n: {
                "cold": d["normalized_ratio"],
                **(
                    {"warm": d["warm_normalized_ratio"]}
                    if "warm_normalized_ratio" in d
                    else {}
                ),
            }
            for n, d in c.get("regressions", {}).items()
        }
        summary["compare"]["n_new_queries"] = len(c.get("new_queries", []))
    slowest = sorted(out["queries"].items(), key=lambda kv: -kv[1])
    summary["slowest"] = dict(slowest[:10])
    while len(json.dumps(summary)) > limit and (
        summary["slowest"] or summary.get("compare", {}).get("regressions")
    ):
        # trim, never overflow: drop detail entries until the line fits
        if summary["slowest"]:
            summary["slowest"].popitem()
        else:
            summary["compare"]["regressions"].popitem()
    # hard bound (ADVICE r6): if the fixed base alone still overflows —
    # e.g. a pathologically long SPARK_GRAFT_BENCH_FULL path — shorten the
    # path to its basename, then drop optional sections outright
    if len(json.dumps(summary)) > limit:
        summary["full"] = os.path.basename(summary["full"])
    for k in ("slowest", "compare"):
        if len(json.dumps(summary)) > limit:
            summary.pop(k, None)
    return summary


_PKG = "amazon_fresh_sql_data_engineering_spark"


def _query_source_symbols(fn, repo_root: str) -> set[tuple[str, str | None]]:
    """(repo-relative file, symbol) pairs a catalog query transitively
    touches — FUNCTION-level, not file-level (VERDICT r9 item 4: the
    file-level map produced 7 false 'plan-change' labels across r9b/r9c).

    Walk: the query function, every package function it calls (names
    resolved through its globals, module-attribute calls like
    ``dml.update_set`` resolved through an AST pass over its source,
    nested code objects included), package classes it references, and
    package-module CONSTANTS it reads (recorded by name so a changed SQL
    string still flags its query). ``(file, None)`` is the whole-file
    sentinel, emitted only when static resolution genuinely fails. A
    static over-approximation stays fine — false positives only demote a
    tenancy verdict to inconclusive, never the reverse."""
    import ast
    import inspect
    import textwrap
    import types

    out: set[tuple[str, str | None]] = set()
    seen_fns: set = set()
    # the registry stores a fence-generation wrapper; walk the query body
    stack = [inspect.unwrap(fn)]

    def _rel(obj) -> str | None:
        try:
            src = inspect.getsourcefile(obj)
        except TypeError:
            return None
        if not src or _PKG not in src:
            return None
        return os.path.relpath(src, repo_root)

    def _push_class(cls) -> bool:
        """Record a package class AND walk its methods' callees: a symbol
        reached only through an instance (``publish.write``) resolves to
        nothing statically, so edits inside the class — or in helpers its
        methods call, like atomic_swap_write behind SwapPublish.write —
        must flag via the class's own call graph (ADVICE r10)."""
        crel = _rel(cls)
        if crel is None:
            return False
        out.add((crel, cls.__name__))
        for attr_v in vars(cls).values():
            if isinstance(attr_v, (staticmethod, classmethod)):
                attr_v = attr_v.__func__
            if inspect.isfunction(attr_v):
                stack.append(attr_v)
        return True

    def _record_value(v, relfile: str, name: str) -> None:
        """A plain-value global: record by NAME (so a changed module
        constant flags), and when it is an INSTANCE of a package class,
        also by its CLASS symbol — ``publish=SWAP_PUBLISH`` edits land on
        SwapPublish's methods, which share no name with the instance
        (ADVICE r10)."""
        out.add((relfile, name))
        _push_class(type(v))

    while stack:
        f = stack.pop()
        if f in seen_fns:
            continue
        seen_fns.add(f)
        rel = _rel(f)
        if rel is None:
            continue
        out.add((rel, f.__qualname__.split(".<locals>.")[0]))
        g = getattr(f, "__globals__", {})
        # all names this function (and its nested lambdas/closures) reads
        names: set[str] = set()
        codes = [f.__code__]
        while codes:
            c = codes.pop()
            names.update(c.co_names)
            names.update(c.co_freevars)
            codes.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
        # module-attribute accesses (dml.update_set) need the AST: the
        # bytecode alone can't pair the module name with the attribute.
        # Function-LOCAL imports (the package's import-cycle idiom:
        # ``from .sources.sinks import ctas_zordered`` inside the body)
        # also need it — the imported names never land in __globals__.
        attr_pairs: set[tuple[str, str]] = set()
        local_imports: list = []  # (absolute module, [names] or None)
        parsed = True
        mod_parts = (getattr(f, "__module__", "") or "").split(".")
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(f)))
            for node in ast.walk(tree):
                # names in DEFAULT-ARGUMENT position (``publish=
                # SWAP_PUBLISH``) never appear in co_names — defaults are
                # evaluated at definition time in the enclosing scope —
                # so harvest them from the AST (ADVICE r10)
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
                ):
                    defaults = list(node.args.defaults) + [
                        d for d in node.args.kw_defaults if d is not None
                    ]
                    for d in defaults:
                        for sub in ast.walk(d):
                            if isinstance(sub, ast.Name):
                                names.add(sub.id)
                if isinstance(node, ast.Attribute) and isinstance(
                    node.value, ast.Name
                ):
                    attr_pairs.add((node.value.id, node.attr))
                elif isinstance(node, ast.ImportFrom) and node.level > 0:
                    anchor = mod_parts[: -node.level]
                    absolute = ".".join(
                        anchor + ([node.module] if node.module else [])
                    )
                    local_imports.append(
                        (absolute, [(a.name, a.asname or a.name) for a in node.names])
                    )
                elif isinstance(node, ast.ImportFrom) and (
                    node.module or ""
                ).startswith(_PKG):
                    local_imports.append(
                        (node.module, [(a.name, a.asname or a.name) for a in node.names])
                    )
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.startswith(_PKG):
                            local_imports.append((a.name, None))
        except (OSError, SyntaxError, TypeError):
            parsed = False
        import importlib

        env = dict(g)  # globals overlaid with function-local imports
        for absolute, imp_names in local_imports:
            try:
                mod = importlib.import_module(absolute)
            except ImportError:
                continue
            mrel_src = getattr(mod, "__file__", "") or ""
            if _PKG not in mrel_src:
                continue
            mrel = os.path.relpath(mrel_src, repo_root)
            if imp_names is None:
                out.add((mrel, None))
                continue
            for iname, bound in imp_names:
                v = getattr(mod, iname, None)
                env.setdefault(bound, v)
                if inspect.isfunction(v):
                    stack.append(v)
                elif inspect.isclass(v) and _push_class(v):
                    pass
                elif inspect.ismodule(v):
                    pass  # attr accesses resolve through env below
                else:
                    _record_value(v, mrel, iname)
        resolved_mods: set[str] = set()
        for mname, attr in attr_pairs:
            mod = env.get(mname)
            if not inspect.ismodule(mod) or _PKG not in (
                getattr(mod, "__file__", "") or ""
            ):
                continue
            resolved_mods.add(mname)
            mrel = os.path.relpath(mod.__file__, repo_root)
            v = getattr(mod, attr, None)
            if inspect.isfunction(v):
                stack.append(v)
            elif inspect.isclass(v) and _push_class(v):
                pass
            else:
                _record_value(v, mrel, attr)  # module constant (or unresolvable)
        for name in names:
            if name not in env:
                continue  # attribute names also land in co_names — skip
            v = env[name]
            if inspect.isfunction(v):
                stack.append(v)
            elif inspect.isclass(v) and _push_class(v):
                pass
            elif inspect.ismodule(v):
                mf = getattr(v, "__file__", "") or ""
                if _PKG in mf and (name not in resolved_mods or not parsed):
                    # referenced but no attribute statically resolved
                    # (passed as a value, or the source didn't parse)
                    out.add((os.path.relpath(mf, repo_root), None))
            else:
                # plain value (SQL string, threshold, schema const):
                # assume defined in the reader's own module — the common
                # case — so a changed module constant flags its queries
                _record_value(v, rel, name)
    return out


def _changed_file_symbols(
    repo_root: str, relpath: str, since: str, until: str
) -> set[str] | None:
    """Top-level symbols of ``relpath`` whose AST changed between the two
    git refs. Returns None for 'treat the whole file as changed': the file
    was added, failed to parse, its imports shrank/changed, or executable
    module-level residue (anything beyond docstrings / single-name
    assignments) differs. Changed/removed module constants are reported
    by NAME; purely ADDED statements and imports are ignored — they
    cannot alter a pre-existing query's plan."""
    import ast
    import subprocess

    def _load(ref: str) -> str | None:
        r = subprocess.run(
            ["git", "show", f"{ref}:{relpath}"],
            cwd=repo_root, capture_output=True, text=True,
        )
        return r.stdout if r.returncode == 0 else None

    old_src, new_src = _load(since), _load(until)
    if old_src is None or new_src is None:
        return None
    try:
        old_t, new_t = ast.parse(old_src), ast.parse(new_src)
    except SyntaxError:
        return None

    def _index(tree):
        funcs: dict[str, str] = {}
        assigns: dict[str, str] = {}
        imports: set[str] = set()
        other: list[str] = []

        def visit(body, prefix):
            for node in body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    funcs[prefix + node.name] = ast.dump(node)
                elif isinstance(node, ast.ClassDef):
                    visit(node.body, prefix + node.name + ".")
                    rest = [
                        n for n in node.body
                        if not isinstance(
                            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                        )
                    ]
                    funcs[prefix + node.name] = "|".join(
                        [ast.dump(n) for n in rest]
                        + [ast.dump(d) for d in node.decorator_list]
                        + [ast.dump(b) for b in node.bases]
                    )
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    if prefix == "":
                        imports.add(ast.dump(node))
                    else:
                        other.append(prefix + ast.dump(node))
                elif isinstance(node, ast.Expr) and isinstance(
                    node.value, ast.Constant
                ):
                    pass  # docstring
                elif (
                    isinstance(node, ast.Assign)
                    and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                ):
                    assigns[prefix + node.targets[0].id] = ast.dump(node)
                elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name
                ):
                    assigns[prefix + node.target.id] = ast.dump(node)
                else:
                    other.append(prefix + ast.dump(node))

        visit(tree.body, "")
        return funcs, assigns, imports, sorted(other)

    f_old, a_old, i_old, o_old = _index(old_t)
    f_new, a_new, i_new, o_new = _index(new_t)
    if not i_old <= i_new or o_old != o_new:
        return None  # imports shrank/changed or executable residue differs
    changed = {q for q in f_old if f_old[q] != f_new.get(q)}
    changed |= {q for q in a_old if a_old[q] != a_new.get(q)}
    return changed


def _symbols_touched(
    symbols: set[tuple[str, str | None]],
    changed_by_file: dict[str, set[str] | None],
) -> list[str]:
    """Intersect a query's symbol set with the diff's changed symbols.
    Prefix-compatible match: changed 'Class.method' hits symbol 'Class',
    changed 'fn' hits symbol 'fn' (nested defs were folded into their
    top-level parent on both sides)."""
    hits: set[str] = set()
    for relfile, sym in symbols:
        if relfile not in changed_by_file:
            continue
        ch = changed_by_file[relfile]
        if ch is None:
            hits.add(f"{relfile}::*")
        elif sym is None:
            if ch:
                hits.update(f"{relfile}::{c}" for c in ch)
        else:
            for c in ch:
                if c == sym or c.startswith(sym + ".") or sym.startswith(c + "."):
                    hits.add(f"{relfile}::{c}")
    return sorted(hits)


def adjudicate(
    current_path: str,
    prior_path: str,
    runs_glob: str | None,
    since: str | None,
    until: str = "HEAD",
) -> dict:
    """Post-hoc adjudication of a driver bench artifact (module doc). Pure
    JSON + git analysis — no SparkSession, no query execution."""
    import glob
    import subprocess

    repo_root = os.path.dirname(os.path.abspath(__file__))
    with open(current_path) as fh:
        cur = json.load(fh)
    comp = compare_to_prior(
        cur.get("queries", {}), prior_path, cur.get("queries_warm", {})
    )["compare"]

    run_paths = sorted(
        p
        for p in glob.glob(runs_glob or os.path.join(repo_root, "BENCH_full_r*.json"))
        if os.path.abspath(p) != os.path.abspath(current_path)
    )
    runs = []
    for p in run_paths:
        try:
            with open(p) as fh:
                runs.append((os.path.basename(p), json.load(fh)))
        except (OSError, json.JSONDecodeError):
            pass

    if since is None:
        # round boundary = the driver's artifact commit of the PREVIOUS
        # round. If THIS round's correctness artifact is already committed
        # at HEAD, the newest CORRECTNESS commit IS HEAD and the diff
        # below would be empty — every regression with a tight spread
        # would then be misclassified as tenancy-spike (ADVICE r9). Take
        # the newest CORRECTNESS commit strictly before HEAD.
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo_root, capture_output=True, text=True,
        ).stdout.strip()
        out = subprocess.run(
            ["git", "log", "--format=%H", "--", "CORRECTNESS_r*.json"],
            cwd=repo_root, capture_output=True, text=True,
        )
        since = next((h for h in out.stdout.split() if h != head), None)
    changed: set[str] = set()
    if since:
        out = subprocess.run(
            ["git", "diff", "--name-only", f"{since}..{until}"],
            cwd=repo_root, capture_output=True, text=True,
        )
        changed = {line.strip() for line in out.stdout.splitlines() if line.strip()}
    # FUNCTION-level change map (VERDICT r9 item 4): for each changed
    # package file, which top-level symbols actually differ between the
    # refs — so a query living in a touched FILE is only marked
    # plan-change when a symbol on its own call path changed
    changed_by_file: dict[str, set[str] | None] = {}
    for relfile in changed:
        if relfile.endswith(".py") and relfile.startswith(_PKG):
            changed_by_file[relfile] = (
                _changed_file_symbols(repo_root, relfile, since, until)
                if since
                else None
            )

    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

    # bench order of both runs (JSON preserves insertion order = execution
    # order): a query the rotation moved EARLIER meets colder codegen/JIT
    # than its prior late-position reading — the measured artifact costs
    # 0.6-1.5 s cold and up to ~0.8 s warm on sub-second queries (r10:
    # events_inter_arrival, op_xcorr_lagged), so early-position flags on
    # small queries are expected, not regressions (VERDICT r10 item 4)
    with open(prior_path) as fh:
        prior_order = list(json.load(fh).get("queries", {}))
    cur_order = list(cur.get("queries", {}))
    cur_warm_t = cur.get("queries_warm", {})

    def _in_range(val, hist: dict) -> bool:
        """Current reading within the committed-run envelope: at most 15%
        past (or within the 0.3 s same-tree noise floor of) the committed
        maximum — then the PRIOR pin was a favorable read, not this run a
        regression."""
        if val is None or not hist:
            return False
        hi = max(hist.values())
        return val <= hi * 1.15 or (val - hi) <= 0.3

    flags = {}
    for name, reg in comp.get("regressions", {}).items():
        colds = {
            rn: r["queries"][name] for rn, r in runs if name in r.get("queries", {})
        }
        warms = {
            rn: r["queries_warm"][name]
            for rn, r in runs
            if name in r.get("queries_warm", {})
        }
        spread = (
            round(max(colds.values()) / min(colds.values()), 3)
            if len(colds) >= 2 and min(colds.values()) > 0
            else None
        )
        # self-clearing evidence, each sufficient on its own (VERDICT r10
        # item 4 — the warm tier gets the same mechanical treatment the
        # cold tier got in r9/r10):
        # (a) committed spread tight OR sub-second absolute jitter (a
        #     0.2 s query legitimately swings 2x between same-tree runs;
        #     0.3 s is the measured same-tree noise floor, r6-r8 runs)
        evidence = []
        if spread is not None and (
            spread <= 1.5 or (max(colds.values()) - min(colds.values())) <= 0.3
        ):
            evidence.append("committed-spread-stable")
        # (b) the current cold/warm reading sits inside the committed-run
        #     envelope — the isolated-rerun check the judge has been doing
        #     by hand, replaced by the envelope the committed runs already
        #     recorded
        if _in_range(reg.get("now_sec"), colds):
            evidence.append("cold-in-committed-range")
        if _in_range(cur_warm_t.get(name), warms):
            evidence.append("warm-in-committed-range")
        # (c) rotation position: moved earlier into the run's first ~20
        #     slots with a small absolute reading — the early-session
        #     JIT/codegen artifact domain
        pos_cur = cur_order.index(name) if name in cur_order else None
        pos_prior = prior_order.index(name) if name in prior_order else None
        if (
            pos_cur is not None
            and pos_prior is not None
            and pos_cur < pos_prior
            and pos_cur < 20
            and reg.get("now_sec", 99.0) <= 2.0
        ):
            evidence.append(f"rotation-position {pos_prior}->{pos_cur}")
        touched = (
            _symbols_touched(
                _query_source_symbols(CATALOG[name].fn, repo_root),
                changed_by_file,
            )
            if name in CATALOG
            else None
        )
        if touched:
            verdict = "plan-change"
        elif evidence:
            verdict = "tenancy-spike"
        else:
            verdict = "inconclusive"
        flags[name] = {
            **reg,
            "committed_runs_cold": colds,
            "committed_runs_warm": warms,
            "committed_spread_ratio": spread,
            "operator_path_changed": bool(touched),
            "changed_symbols": touched or [],
            "evidence": evidence,
            "verdict": verdict,
        }
    return {
        "adjudicate": {
            "current": current_path,
            "prior": prior_path,
            "since": since,
            "until": until,
            "committed_runs": [rn for rn, _ in runs],
            "drift_median_ratio": comp.get("drift_median_ratio"),
            "normalized_total_ratio": comp.get("normalized_total_ratio"),
            "flags": flags,
        }
    }


def compare_to_prior(
    timings: dict[str, float], prior_path: str, warm: dict[str, float] | None = None
) -> dict:
    """Drift-normalized comparison vs a prior bench JSON (cold tier).

    Each flagged regression also carries ``warm_normalized_ratio`` when both
    runs have a warm tier: the cold tier is CATALOG-ORDER-DEPENDENT (a query
    moved earlier in the rotation meets colder codegen — measured 7x on a
    0.13 s filter), so the steady-state warm ratio is the arbiter of
    whether an engine change actually regressed."""
    with open(prior_path) as fh:
        prior = json.load(fh)
    prev = prior.get("queries", {})
    ratios = {
        n: timings[n] / prev[n] for n in timings if n in prev and prev[n] > 0
    }
    if not ratios:
        return {"compare": {"prior": prior_path, "common": 0}}
    rs = sorted(ratios.values())
    drift = rs[len(rs) // 2]  # median ratio over common queries = host drift
    normalized = {n: round(r / drift, 3) for n, r in ratios.items()}
    prev_warm = prior.get("queries_warm", {})
    warm_ratios = {
        n: (warm or {})[n] / prev_warm[n]
        for n in (warm or {})
        if n in prev_warm and prev_warm[n] > 0
    }
    wdrift = (
        sorted(warm_ratios.values())[len(warm_ratios) // 2] if warm_ratios else None
    )
    regressions = {
        n: {
            "prior_sec": prev[n],
            "now_sec": timings[n],
            "normalized_ratio": v,
            **(
                {"warm_normalized_ratio": round(warm_ratios[n] / wdrift, 3)}
                if n in warm_ratios
                else {}
            ),
        }
        for n, v in sorted(normalized.items(), key=lambda kv: -kv[1])
        if v > 2.0
    }
    return {
        "compare": {
            "prior": prior_path,
            "common": len(ratios),
            "drift_median_ratio": round(drift, 4),
            "normalized_total_ratio": round(
                sum(timings[n] for n in ratios)
                / (drift * sum(prev[n] for n in ratios)),
                4,
            ),
            "regressions": regressions,
            "new_queries": sorted(n for n in timings if n not in prev),
        }
    }


if __name__ == "__main__":
    if "--adjudicate" in sys.argv:
        # pure JSON + git analysis: runs no queries, builds no session
        i = sys.argv.index("--adjudicate")
        current, prior = sys.argv[i + 1], sys.argv[i + 2]
        runs_glob = (
            sys.argv[sys.argv.index("--runs") + 1] if "--runs" in sys.argv else None
        )
        since_ref = (
            sys.argv[sys.argv.index("--since") + 1] if "--since" in sys.argv else None
        )
        until_ref = (
            sys.argv[sys.argv.index("--until") + 1] if "--until" in sys.argv else "HEAD"
        )
        print(
            json.dumps(
                adjudicate(current, prior, runs_glob, since_ref, until_ref), indent=2
            )
        )
    else:
        main()
