"""Generate COVERAGE.md — the per-key driver-evidence ledger.

Reads every CORRECTNESS_r*.json in the repo root plus the live registry
and emits one row per registered key: the latest driver round that
recorded it, the result class, and its oracle status. Rounds stop
re-deriving the backlog by hand (VERDICT r4 item 8); the file is
generated, never hand-edited.

Usage:
    python tools/coverage_ledger.py          # write COVERAGE.md
    python tools/coverage_ledger.py --check  # exit 1 if COVERAGE.md stale
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, REPO)


def classify(row: dict) -> str:
    """One driver row -> result class (also __spark_entry__'s ordering
    input: only hash-match and rows-recorded rows count as checked)."""
    if not isinstance(row, dict):
        return "unknown"
    err = row.get("err")
    if (
        err is None
        and row.get("hash_match")
        and row.get("rows_match")
        and row.get("schema_match")
    ):
        return "hash-match"
    if err == "no_oracle" and row.get("spark_rows") is not None:
        return "rows-recorded"
    return "FAILED"


def collect() -> dict[str, tuple[int, str]]:
    """key -> (latest round number, result class at that round).

    Files are ordered by PARSED round number, not filename — lexicographic
    order would put r10 before r2 for unpadded or 3-digit rounds and let
    an older round win."""
    return {k: (rnd, classify(row)) for k, (rnd, row) in collect_rows().items()}


def collect_rows(repo: str | None = None) -> dict[str, tuple[int, object]]:
    """key -> (latest round number, RAW driver row at that round).

    THE one file scan (also reused by __spark_entry__, which passes its
    own repo root, so the round-parse/latest-wins logic cannot drift). An
    unreadable or non-object file is skipped LOUDLY: a silently dropped
    round would reshuffle the fresh-first window and report evidenced
    keys as 'never' with no signal."""
    latest: dict[str, tuple[int, object]] = {}
    paths = []
    for path in glob.glob(os.path.join(repo or REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            paths.append((int(m.group(1)), path))
    for rnd, path in sorted(paths):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError) as exc:
            print(
                f"warning: skipping unreadable {os.path.basename(path)} "
                f"({exc}) — that round's evidence is IGNORED",
                file=sys.stderr,
            )
            continue
        if not isinstance(rows, dict):
            print(
                f"warning: {os.path.basename(path)} is not a key->row "
                "object — that round's evidence is IGNORED",
                file=sys.stderr,
            )
            continue
        for key, row in rows.items():
            latest[key] = (rnd, row)
    return latest


_PKG = "kafka_hadoop_consumer_spark"


def _fn_source(fn) -> str:
    import inspect

    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        # stable fallback — repr(fn) embeds the per-process memory
        # address, which would flap every key STALE on each regen
        return f"<no-source:{fn.__module__}.{fn.__qualname__}>"


def helper_closure(fn, pkg: str = _PKG) -> dict[str, str]:
    """{qualname: source/repr} of package-local helpers `fn` references,
    transitively.

    An edit to a SHARED module-level helper (e.g. r9's `ngram_expr`
    input guard) changes caller behavior without touching the caller's
    own source, so a source-only def_hash left the caller certified on
    pre-edit evidence (VERDICT r9 item 4). Names loaded in the function
    body are resolved against its globals UNLESS the name is bound
    anywhere inside the function (param/assignment/etc. — a local
    shadowing a module constant must not pull that unrelated constant
    into the hash; r10 ADVICE); package-defined functions and classes
    contribute their source (and recurse), simple module-level constants
    contribute their repr. Dotted module chains (mod.helper,
    pkg.mod.helper) resolve through module hops. Imported modules (F,
    etc.) and foreign-package objects are skipped — so the hash is
    targeted: an edit to an UNRELATED helper in the same module does not
    flip a key, only edits inside its actual reference closure do."""
    import ast
    import inspect
    import textwrap
    import types

    out: dict[str, str] = {}
    seen: set[str] = set()
    mutable: set[str] = set()
    const_t = (int, float, complex, bool, str, bytes, tuple, frozenset)

    def visit(obj, qual: str) -> None:
        if qual in seen:
            return
        seen.add(qual)
        try:
            src = inspect.getsource(obj)
            tree = ast.parse(textwrap.dedent(src))
        except (OSError, TypeError, SyntaxError):
            return
        if qual != "<root>":
            out[qual] = src
        if inspect.isfunction(obj):
            space = obj.__globals__
        else:
            space = vars(sys.modules.get(obj.__module__, types.SimpleNamespace()))
        # Names BOUND per ENCLOSING SCOPE (params, assignments,
        # comprehension/loop targets, with/except aliases, nested defs,
        # imports). A local that shadows a same-named module-level
        # constant must NOT pull that unrelated constant into the hash:
        # editing it would spuriously flip this key STALE and burn a
        # driver-window slot (r10 ADVICE). Collection is per scope
        # (r11 ADVICE — the old subtree-wide pass let a name bound only
        # inside a nested def/lambda/comprehension mask the OUTER
        # scope's genuine module-global loads of that name, silently
        # weakening the staleness gate): nested scopes inherit the
        # enclosing bindings (closure semantics), so an inner shadow
        # still never over-captures, while an inner-only binding no
        # longer leaks outward.
        scope_t = (
            ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda,
            ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp,
            ast.ClassDef,
        )

        def enclosing_exprs(node):
            """Sub-expressions of a scope node that EVALUATE in its
            ENCLOSING scope (r12 ADVICE): decorators, parameter
            defaults, annotations, class bases/keywords, and the
            outermost comprehension iterable. Analyzing them inside the
            inner scope let params shadow their genuine outer loads."""
            ext = []
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                a = node.args
                ext += [d for d in a.defaults if d is not None]
                ext += [d for d in a.kw_defaults if d is not None]
                if not isinstance(node, ast.Lambda):
                    ext += node.decorator_list
                    ext += [
                        arg.annotation
                        for arg in (
                            *a.posonlyargs, *a.args, *a.kwonlyargs,
                            *([a.vararg] if a.vararg else []),
                            *([a.kwarg] if a.kwarg else []),
                        )
                        if arg.annotation
                    ]
                    if node.returns:
                        ext.append(node.returns)
            elif isinstance(
                node,
                (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp),
            ):
                ext.append(node.generators[0].iter)
            elif isinstance(node, ast.ClassDef):
                ext += node.decorator_list
                ext += node.bases
                ext += [k.value for k in node.keywords]
            return ext

        def iter_scope(root):
            """Nodes of root's immediate scope — stops AT nested scope
            nodes (their children belong to the nested scope's pass),
            EXCEPT their enclosing-scope expressions (decorators,
            defaults, annotations, first comprehension iterable), which
            evaluate here and are yielded as this scope's nodes; root's
            own such expressions belong to ITS enclosing scope and are
            skipped."""
            skip = {id(x) for x in enclosing_exprs(root)}
            stack = list(ast.iter_child_nodes(root))
            while stack:
                node = stack.pop()
                if id(node) in skip:
                    continue
                yield node
                if isinstance(node, scope_t):
                    stack.extend(enclosing_exprs(node))
                else:
                    stack.extend(ast.iter_child_nodes(node))

        def own_params(root) -> set:
            if not isinstance(
                root, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                return set()
            a = root.args
            return {
                arg.arg
                for arg in (
                    *a.posonlyargs, *a.args, *a.kwonlyargs,
                    *([a.vararg] if a.vararg else []),
                    *([a.kwarg] if a.kwarg else []),
                )
            }

        names = set()

        def analyze(root, inherited: frozenset) -> None:
            # pass 1 — this scope's own bindings, atop the enclosing ones
            bound = set(inherited) | own_params(root)
            for node in iter_scope(root):
                if isinstance(node, ast.Name) and isinstance(
                    node.ctx, (ast.Store, ast.Del)
                ):
                    bound.add(node.id)
                elif isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    bound.add(node.name)
                elif isinstance(node, (ast.Import, ast.ImportFrom)):
                    for alias in node.names:
                        bound.add(alias.asname or alias.name.split(".")[0])
                elif isinstance(node, ast.ExceptHandler) and node.name:
                    bound.add(node.name)
            # pass 2 — loads in THIS scope, resolved against it
            for node in iter_scope(root):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    if node.id not in bound:
                        names.add(node.id)
                elif isinstance(node, ast.Global):
                    # a `global X` in the closure means X is runtime-mutated
                    # state (e.g. registry._ACTIVE_DEPTH's depth counter) —
                    # its repr is execution-dependent, so capturing it would
                    # flap hashes; dropped after the walk completes
                    mutable.update(node.names)
                elif isinstance(node, ast.Attribute):
                    # dotted module access: resolve `mod.helper` and deeper
                    # chains (`pkg.mod.helper`) when every hop up to the last
                    # is a module and the final object is package-local
                    chain = [node.attr]
                    cur = node.value
                    while isinstance(cur, ast.Attribute):
                        chain.append(cur.attr)
                        cur = cur.value
                    if isinstance(cur, ast.Name) and cur.id not in bound:
                        base = space.get(cur.id)
                        for attr in chain[:0:-1]:  # intermediate hops
                            if isinstance(base, types.ModuleType) and hasattr(
                                base, attr
                            ):
                                base = getattr(base, attr)
                            else:
                                base = None
                                break
                        if (
                            isinstance(base, types.ModuleType)
                            and base.__name__.startswith(pkg)
                            and hasattr(base, chain[0])
                        ):
                            resolve(getattr(base, chain[0]), chain[0])
            # pass 3 — nested scopes see this scope's bindings, EXCEPT
            # under a ClassDef: Python class bodies do not enclose
            # their methods (r12 ADVICE), so a method's genuine
            # module-global load whose name collides with a class
            # attribute must still be captured — methods inherit what
            # the class body inherited, not the class body's bindings.
            child_inherited = (
                inherited
                if isinstance(root, ast.ClassDef)
                else frozenset(bound)
            )
            for node in iter_scope(root):
                if isinstance(node, scope_t):
                    analyze(node, child_inherited)

        analyze(tree, frozenset())
        # sorted: set iteration order varies across processes (string
        # hash randomization), and visit order decides const-name
        # collisions — unsorted would flap hashes between regens
        for name in sorted(names):
            if name in space:
                resolve(space[name], name)

    def resolve(val, name: str) -> None:
        import functools

        val = inspect.unwrap(val) if callable(val) else val
        if inspect.isfunction(val) or inspect.isclass(val):
            mod = getattr(val, "__module__", "") or ""
            if mod.startswith(pkg):
                visit(val, f"{mod}.{val.__qualname__}")
        elif isinstance(val, functools.partial):
            resolve(val.func, name)
        elif isinstance(val, const_t):
            # reprs of these builtin immutables are process-stable;
            # anything fancier (dict, ndarray, session objects) is
            # skipped rather than risk an address-bearing repr
            out.setdefault(f"const:{name}", repr(val))

    visit(inspect.unwrap(fn) if callable(fn) else fn, "<root>")
    for name in mutable:
        out.pop(f"const:{name}", None)
    return out


def def_hash(key: str, queries: dict, oracles: dict) -> str:
    """Hash of the key's CURRENT definition: query source + the sources
    of every package-local helper in its transitive reference closure +
    oracle SQL.

    Snapshotted into COVERAGE_DEFS.json at the key's evidencing round so
    later ledger runs can downgrade rows whose definition changed after
    the driver last checked them (evidence for an old definition must
    not be presented as current). Helper sources are folded in so a
    shared-helper edit marks every caller STALE (VERDICT r9 item 4); a
    key whose closure is empty hashes exactly as the pre-r10 format, so
    the format change itself does not flap helper-free keys.

    Note the @query decorator (and whatever registry machinery it
    references) is in EVERY key's closure — the decorator line is part
    of the registered source, so editing it flips the whole registry
    STALE. That is the honest semantics (registry changes affect every
    key's runtime) and round_check's 50-slot window gate will fail
    loudly, forcing the edit to be a conscious, re-baselined decision
    rather than a silent one."""
    import hashlib

    fn = queries[key]
    src = _fn_source(fn)
    helpers = helper_closure(fn)
    parts = [src]
    for qual in sorted(helpers):
        parts.append(f"\n---helper:{qual}---\n{helpers[qual]}")
    parts.append("\n---oracle---\n" + oracles.get(key, ""))
    return hashlib.sha256("".join(parts).encode()).hexdigest()[:16]


def load_defs() -> dict:
    try:
        with open(os.path.join(REPO, "COVERAGE_DEFS.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def render() -> tuple[str, dict]:
    """Return (COVERAGE.md content, updated COVERAGE_DEFS sidecar)."""
    from kafka_hadoop_consumer_spark.queries import ORACLES, QUERIES

    latest = collect()
    defs = load_defs()
    cur_hash = {k: def_hash(k, QUERIES, ORACLES) for k in QUERIES}
    new_defs = dict(defs)
    lines = [
        "# COVERAGE — per-key driver-evidence ledger",
        "",
        "Generated by `python tools/coverage_ledger.py` from",
        "`CORRECTNESS_r*.json`; do not hand-edit. `hash-match` = full",
        "rows+schema+value-hash green; `rows-recorded` = rows-only key the",
        "driver executed (no SQL oracle, by design); `never` = no driver",
        "row yet (green in the local DuckDB mirror only); `STALE` = the",
        "key's query/oracle definition changed after its evidencing round",
        "(tracked via COVERAGE_DEFS.json), so the old driver row no longer",
        "certifies the current code — __spark_entry__'s fresh-first",
        "ordering treats STALE keys as never-checked, so the next driver",
        "window re-earns evidence for the current definition.",
        "",
    ]
    n_hash = n_rows = n_never = n_fail = n_stale = 0
    rows_out = []
    for key in QUERIES:
        oracle = "sql" if key in ORACLES else "rows-only"
        if key in latest:
            rnd, cls = latest[key]
            rec = defs.get(key)
            if rec is None:
                # Evidence with NO prior observation of ANY definition
                # for this key (sidecar lost, or an unregister/
                # re-register cycle dropped the entry): the row cannot
                # be attributed to the current code — the edit may have
                # landed after the driver window ran. Mark stale and
                # record the observation; a row from any LATER round
                # re-certifies. (The normal new-key flow never hits
                # this: registration-time regens record a pending
                # observation for never-checked keys below.)
                cls = f"{cls} STALE(no definition observation before r{rnd})"
                n_stale += 1
                new_defs[key] = {
                    "pending": {"def_hash": cur_hash[key], "after_round": rnd}
                }
            elif (rec.get("round") if isinstance(rec.get("round"), int) else -1) < rnd:
                pend = rec.get("pending") or {}
                if rec.get("def_hash") == cur_hash[key]:
                    # Newer driver row over an UNCHANGED definition:
                    # re-certify at the newer round.
                    new_defs[key] = {"round": rnd, "def_hash": cur_hash[key]}
                elif (
                    pend.get("def_hash") == cur_hash[key]
                    and rnd > pend.get("after_round", float("inf"))
                ):
                    # The current definition was first OBSERVED by a
                    # regen before the round that produced this newer
                    # row (pending snapshot below), so that window ran
                    # this exact code: re-certify. This is what clears
                    # a STALE key after its one fresh-window re-check —
                    # without it no path could ever advance an edited
                    # key's snapshot and it would burn a window slot
                    # every round forever.
                    new_defs[key] = {"round": rnd, "def_hash": cur_hash[key]}
                else:
                    # Newer driver row, but the definition changed since
                    # its last snapshot and was not yet observed before
                    # that row's round — the row cannot be attributed to
                    # the current code (the edit may have landed after
                    # the driver window). Keep the old certification,
                    # mark stale, and record the observation: a row from
                    # any LATER round is attributable.
                    since = rec.get("round")
                    cls = (
                        f"{cls} STALE(def changed since "
                        f"r{since if isinstance(since, int) else '?'})"
                    )
                    n_stale += 1
                    new_defs[key] = dict(
                        rec,
                        pending={
                            "def_hash": cur_hash[key],
                            "after_round": rnd,
                        },
                    )
            elif rec.get("def_hash") != cur_hash[key]:
                # Definition edited since the evidencing round with no
                # newer driver row: evidence is stale. Record the
                # observation so the NEXT driver row (necessarily a
                # later round) re-certifies the edited definition.
                cls = f"{cls} STALE(def changed since r{rnd})"
                n_stale += 1
                new_defs[key] = dict(
                    rec,
                    pending={"def_hash": cur_hash[key], "after_round": rnd},
                )
            if cls.startswith("hash-match"):
                n_hash += 1
            elif cls.startswith("rows-recorded"):
                n_rows += 1
            else:
                n_fail += 1
            rows_out.append((key, oracle, f"r{rnd}", cls))
        else:
            n_never += 1
            rows_out.append((key, oracle, "—", "never"))
            # Record a pending observation for never-checked keys at
            # registration time: it proves the current definition
            # existed BEFORE the next driver window ran, so that
            # window's row is attributable (and a key edited between a
            # regen and the window correctly stays unattributable).
            rec = defs.get(key)
            observed = isinstance(rec, dict) and (
                rec.get("def_hash") == cur_hash[key]
                or (rec.get("pending") or {}).get("def_hash") == cur_hash[key]
            )
            if not observed:
                max_rnd = max((r for r, _ in latest.values()), default=0)
                new_defs[key] = {
                    "pending": {
                        "def_hash": cur_hash[key],
                        "after_round": max_rnd,
                    }
                }
    # drop sidecar entries for unregistered keys
    new_defs = {k: v for k, v in new_defs.items() if k in cur_hash}
    total = len(QUERIES)
    lines += [
        f"**{total} keys: {n_hash} hash-match, {n_rows} rows-recorded, "
        f"{n_never} never driver-checked, {n_fail} failed; "
        f"{n_stale} with stale (post-evidence-edited) definitions.**",
        "",
        "| key | oracle | latest round | result |",
        "|---|---|---|---|",
    ]
    # the actionable backlog first — never-checked AND stale rows both
    # consume next-window slots (the fresh-first ordering treats STALE
    # as never-checked), so both front the table — then by key
    rows_out.sort(
        key=lambda r: (not (r[3] == "never" or "STALE" in r[3]), r[0])
    )
    lines += [f"| {k} | {o} | {r} | {c} |" for k, o, r, c in rows_out]
    # stale driver rows for keys no longer registered are a red flag
    gone = sorted(set(latest) - set(QUERIES))
    if gone:
        lines += ["", f"Unregistered keys with driver rows: {', '.join(gone)}"]
    lines.append("")
    return "\n".join(lines), new_defs


def main(argv: list[str]) -> int:
    out_path = os.path.join(REPO, "COVERAGE.md")
    defs_path = os.path.join(REPO, "COVERAGE_DEFS.json")
    content, new_defs = render()
    if argv and argv[0] == "--check":
        try:
            with open(out_path) as f:
                current = f.read()
        except OSError:
            current = ""
        if current != content:
            print("COVERAGE.md is stale — run python tools/coverage_ledger.py")
            return 1
        # The sidecar is load-bearing (it drives the fresh-first STALE
        # re-entry in __spark_entry__, which swallows a missing/corrupt
        # file silently) — so --check must fail loudly if it is absent,
        # unparseable, or behind what a regen would write.
        try:
            with open(defs_path) as f:
                on_disk = json.load(f)
        except (OSError, ValueError):
            print(
                "COVERAGE_DEFS.json missing/unreadable — the STALE "
                "mechanism is dead; run python tools/coverage_ledger.py"
            )
            return 1
        if on_disk != new_defs:
            print(
                "COVERAGE_DEFS.json is stale — run "
                "python tools/coverage_ledger.py"
            )
            return 1
        print("COVERAGE.md up to date")
        return 0
    with open(out_path, "w") as f:
        f.write(content)
    with open(defs_path, "w") as f:
        json.dump(new_defs, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path} (+ {defs_path})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
