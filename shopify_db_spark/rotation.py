"""Computed driver-rotation: map a git round-diff to catalog queries.

Round-11 lesson (the q20 miss): the driver samples 50 of the 161
catalog queries per round, ordered by the hand-maintained
``_DRIVER_SAMPLE_HEAD`` head in ``__spark_entry__.py`` — and a
hand-curated head leaks. q20's plan changed (it moved to the invoice
artifact read) but nobody put it back in the head, so the round
shipped a plan change with no driver re-certification. This module
makes the head COMPUTED:

1. **Round diff → changed units.** ``git diff <base>..HEAD`` over
   ``shopify_db_spark/`` is mapped, via each module's AST, to the
   top-level *units* (functions / classes / assignments) whose line
   spans the changed lines fall in; lines outside any unit
   (imports, module docstring, stray statements) mark the whole
   module's pseudo-unit ``(module, None)`` changed.
2. **Static reachability.** Every unit's body (decorators included
   — oracle-builder calls live there) is walked for name and
   attribute references, resolved through the module's import
   aliases to ``(module, unit)`` edges inside the package. Each
   catalog query's reachable-unit closure starts at its registered
   function (``QUERIES[name].fn.__wrapped__``). The closure
   over-approximates on purpose: an unresolvable imported name
   degrades to the target module's pseudo-unit, and every unit
   implicitly depends on its own module's pseudo-unit.
3. **Affected = closure ∩ changed ≠ ∅.** Those queries MUST head
   the rotation (``tests/test_rotation_lint.py`` enforces it).
4. **Freshness tail.** The remaining slots are filled
   oldest-driver-evidence-first from the union of the committed
   ``CORRECTNESS_r*.json`` files, so every round also retires the
   oldest evidence tier.

The base commit is found mechanically: the newest ``round-N`` git
tag if one exists, else the newest driver commit whose subject
matches ``round N: verdict`` (the driver writes one per round).

CLI: ``python scripts/rotation.py [--base REF] [--head N]`` prints
the recommended head as a ready-to-paste Python list.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
from dataclasses import dataclass, field

PKG = "shopify_db_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (module dotted name, unit name or None for module-level code)
Unit = tuple[str, str | None]


# ---------------------------------------------------------------- AST model


@dataclass
class ModuleInfo:
    name: str  # dotted module name
    path: str  # repo-relative file path
    units: dict[str, tuple[int, int]] = field(default_factory=dict)
    deps: dict[str | None, set[Unit]] = field(default_factory=dict)


def _module_name(relpath: str) -> str:
    mod = relpath[: -len(".py")].replace(os.sep, ".")
    return mod[: -len(".__init__")] if mod.endswith(".__init__") else mod


def _span(node: ast.stmt) -> tuple[int, int]:
    start = node.lineno
    for dec in getattr(node, "decorator_list", []):
        start = min(start, dec.lineno)
    return start, node.end_lineno or node.lineno


class _RefCollector(ast.NodeVisitor):
    """Collect (module, name) references from a unit body, resolving
    through ``aliases`` (local name -> (module, orig-name|None))."""

    def __init__(self, aliases: dict[str, tuple[str, str | None]]):
        self.aliases = dict(aliases)
        self.refs: set[Unit] = set()

    def _alias_target(self, module: str, name: str | None) -> None:
        # `from pkg.mod import name` may pull a unit OR a submodule
        # (`from pkg.plans import catalog`); record both readings —
        # resolution later keeps whichever exists.
        if name is None:
            self.refs.add((module, None))
        else:
            self.refs.add((module, name))
            self.refs.add((f"{module}.{name}", None))

    def visit_Import(self, node: ast.Import) -> None:
        for a in node.names:
            if a.name.startswith(PKG):
                if a.asname:  # `import a.b as z` binds z -> module a.b
                    self.aliases[a.asname] = (a.name, None)
                else:  # `import a.b` binds the ROOT package name a
                    root = a.name.split(".")[0]
                    self.aliases[root] = (root, None)
                self.refs.add((a.name, None))

    def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
        mod = node.module or ""
        if node.level:  # relative import: resolve against the package root
            mod = f"{PKG}.{mod}" if mod else PKG
        if mod.startswith(PKG):
            for a in node.names:
                self.aliases[a.asname or a.name] = (mod, a.name)
                self._alias_target(mod, a.name)

    def visit_Name(self, node: ast.Name) -> None:
        hit = self.aliases.get(node.id)
        if hit:
            self._alias_target(*hit)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        # Collect the full dotted chain base.mid1.mid2.attr so both
        # `SIM.bm25_topk` and `shopify_db_spark.fakeops.CONST`
        # resolve to unit precision.
        parts: list[str] = []
        cur: ast.expr = node
        while isinstance(cur, ast.Attribute):
            parts.append(cur.attr)
            cur = cur.value
        if isinstance(cur, ast.Name):
            parts.append(cur.id)
            parts.reverse()  # [base, mids..., attr]
            hit = self.aliases.get(parts[0])
            if hit:
                base = hit[0] if hit[1] is None else f"{hit[0]}.{hit[1]}"
                mod = ".".join([base, *parts[1:-1]])
                self._alias_target(mod, parts[-1])
                if hit[1] is not None:
                    # `from pkg.operators import similarity as SIM`
                    # binds SIM through ImportFrom like a unit; also
                    # read the bound unit itself — _resolve drops
                    # whichever module doesn't exist.
                    self._alias_target(*hit)
        self.generic_visit(node)


def _collect_module(relpath: str, src: str) -> ModuleInfo:
    mod = _module_name(relpath)
    info = ModuleInfo(mod, relpath)
    tree = ast.parse(src)
    # First pass: top-level import aliases + same-module unit names.
    aliases: dict[str, tuple[str, str | None]] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    aliases[a.asname or a.name.split(".")[0]] = (a.name, None)
        elif isinstance(node, ast.ImportFrom):
            m = node.module or ""
            if node.level:
                m = f"{PKG}.{m}" if m else PKG
            if m.startswith(PKG):
                for a in node.names:
                    aliases[a.asname or a.name] = (m, a.name)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            info.units[node.name] = _span(node)
            aliases.setdefault(node.name, (mod, node.name))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        info.units.setdefault(n.id, _span(node))
                        aliases.setdefault(n.id, (mod, n.id))
    # Same-module unit references must resolve too.
    for uname in info.units:
        aliases.setdefault(uname, (mod, uname))
    # Second pass: per-unit reference sets.
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            c = _RefCollector(aliases)
            c.visit(node)
            c.refs.discard((mod, node.name))
            info.deps[node.name] = c.refs
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            c = _RefCollector(aliases)
            c.visit(node)
            names = {
                n.id
                for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            }
            for uname in names:
                info.deps[uname] = info.deps.get(uname, set()) | c.refs
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            # A top-level import only BINDS names (and runs the
            # target's module-level code): depend on the target
            # module's pseudo-unit, not on every imported unit —
            # units that use an imported name get the precise edge
            # from their own body references.
            mods: set[Unit] = set()
            if isinstance(node, ast.Import):
                mods = {(a.name, None) for a in node.names if a.name.startswith(PKG)}
            else:
                m = node.module or ""
                if node.level:
                    m = f"{PKG}.{m}" if m else PKG
                if m.startswith(PKG):
                    mods = {(m, None)} | {(f"{m}.{a.name}", None) for a in node.names}
            if mods:
                info.deps[None] = info.deps.get(None, set()) | mods
        else:  # other module-level statement (expressions, if-blocks)
            c = _RefCollector(aliases)
            c.visit(node)
            info.deps[None] = info.deps.get(None, set()) | c.refs
    return info


def load_package() -> dict[str, ModuleInfo]:
    """Parse every module in the package; key = dotted module name."""
    out: dict[str, ModuleInfo] = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        info = _collect_module(rel, src)
        out[info.name] = info
    return out


# ---------------------------------------------------------- reachability


def _resolve(modules: dict[str, ModuleInfo], ref: Unit) -> Unit | None:
    mod, name = ref
    info = modules.get(mod)
    if info is None:
        return None
    if name is not None and name in info.units:
        return (mod, name)
    # None, or an unknown name in a known module (re-export /
    # dynamic): degrade to the module's pseudo-unit — conservative.
    return (mod, None)


def closure(modules: dict[str, ModuleInfo], start: Unit) -> set[Unit]:
    """Reachable units from ``start``; every visited unit also pulls
    in its own module's pseudo-unit (module-level code runs first)."""
    seen: set[Unit] = set()
    stack = [start]
    while stack:
        cur = _resolve(modules, stack.pop())
        if cur is None or cur in seen:
            continue
        seen.add(cur)
        mod, name = cur
        info = modules[mod]
        if name is not None and (mod, None) not in seen:
            stack.append((mod, None))
        for ref in info.deps.get(name, ()):
            if ref not in seen:
                stack.append(ref)
    return seen


def query_units() -> dict[str, Unit]:
    """Catalog query name -> its registered function's unit."""
    from shopify_db_spark.plans import load_all

    out = {}
    for name, spec in load_all().items():
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        out[name] = (fn.__module__, fn.__name__)
    return out


# ------------------------------------------------------------- git diff


def round_base(repo: str = REPO) -> str | None:
    """Newest ``round-N`` tag, else the newest driver round commit."""
    try:
        tags = subprocess.run(
            ["git", "tag", "-l", "round-*"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.split()
        rounds = [(int(m.group(1)), t) for t in tags if (m := re.fullmatch(r"round-(\d+)", t))]
        if rounds:
            return max(rounds)[1]
        log = subprocess.run(
            ["git", "log", "--format=%H %s"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
        for line in log.splitlines():
            sha, _, subject = line.partition(" ")
            if re.match(r"round \d+: verdict", subject):
                return sha
    except (subprocess.CalledProcessError, OSError):
        return None
    return None


def changed_lines(base: str, repo: str = REPO) -> dict[str, set[int]] | None:
    """file relpath -> changed line numbers, for ``shopify_db_spark/``.
    Diffs ``base`` against the WORKING TREE (not just HEAD) so the
    lint sees uncommitted plan changes too.

    Positive entries are NEW-file lines from add/modify hunks.
    Removal-only hunks (``+L,0`` — nothing added at the anchor) used
    to mark only the new-file anchor line, which is typically blank
    or a section comment between units, so ``changed_units``'s
    blank/comment skip silently dropped pure deletions — the exact
    q20-class escape this module exists to prevent (ADVICE r12).
    They are now encoded as NEGATED OLD-file line numbers (the lines
    actually removed, always ≥ 1 so negation is unambiguous);
    ``changed_units`` maps them to units of the BASE revision's AST."""
    try:
        diff = subprocess.run(
            ["git", "diff", "--no-renames", "--unified=0", base, "--", PKG],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None
    out: dict[str, set[int]] = {}
    cur: set[int] | None = None
    for line in diff.splitlines():
        if line.startswith("+++ b/"):
            cur = out.setdefault(line[6:], set())
        elif line.startswith("+++ "):
            cur = None  # /dev/null: deleted file
        elif line.startswith("@@") and cur is not None:
            m = re.match(r"@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@", line)
            if m:
                ostart, on = int(m.group(1)), int(m.group(2) or "1")
                nstart, nn = int(m.group(3)), int(m.group(4) or "1")
                if nn == 0:  # pure deletion: record the OLD lines
                    cur.update(-ln for ln in range(ostart, ostart + on))
                else:
                    cur.update(range(nstart, nstart + nn))
    return out


def _base_source(base: str | None, relpath: str, repo: str) -> str | None:
    """``relpath``'s contents as they stood at ``base`` (for mapping
    removed lines to the units they were removed FROM)."""
    if base is None:
        return None
    try:
        return subprocess.run(
            ["git", "show", f"{base}:{relpath}"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None


def changed_units(
    modules: dict[str, ModuleInfo],
    lines: dict[str, set[int]],
    base: str | None = None,
    repo: str = REPO,
) -> set[Unit]:
    """Map changed lines to (module, unit) pairs. Positive lines are
    located in the CURRENT tree's AST; negative lines (removal-only
    hunks, see ``changed_lines``) in the BASE revision's AST — a
    removed line inside old unit X marks X if X still exists, else
    the module pseudo-unit (a deleted unit's dependents all hold the
    pseudo-unit in their closure; no surviving sibling would flag
    them). Blank/comment-only removed lines are skipped like
    modifications — here that is safe because the base source shows
    the actual removed text, not a possibly-blank anchor line."""
    path_to_mod = {info.path: info for info in modules.values()}
    out: set[Unit] = set()
    for relpath, nums in lines.items():
        info = path_to_mod.get(relpath)
        if info is None:
            # new/renamed module not yet parsed at base: whole module
            if relpath.startswith(PKG) and relpath.endswith(".py"):
                out.add((_module_name(relpath), None))
            continue
        try:
            with open(os.path.join(REPO, relpath), encoding="utf-8") as fh:
                text = fh.read().splitlines()
        except OSError:
            text = []
        old: ModuleInfo | None = None
        old_text: list[str] = []
        if any(ln < 0 for ln in nums):
            old_src = _base_source(base, relpath, repo)
            if old_src is not None:
                old_text = old_src.splitlines()
                try:
                    old = _collect_module(relpath, old_src)
                except SyntaxError:
                    old = None
        for ln in nums:
            if ln < 0:
                oln = -ln
                if old is None:
                    # base source unavailable: conservative fallback
                    out.add((info.name, None))
                    continue
                for uname, (lo, hi) in old.units.items():
                    if lo <= oln <= hi:
                        out.add(
                            (info.name, uname if uname in info.units else None)
                        )
                        break
                else:
                    stripped = (
                        old_text[oln - 1].strip()
                        if 0 < oln <= len(old_text) else "?"
                    )
                    if stripped and not stripped.startswith("#"):
                        out.add((info.name, None))
                continue
            for uname, (lo, hi) in info.units.items():
                if lo <= ln <= hi:
                    out.add((info.name, uname))
                    break
            else:
                # Outside every unit. Blank/comment-only lines cannot
                # change behavior (docstrings live inside unit spans)
                # — without this, a section comment between functions
                # marks the whole module and drags every sibling
                # query into the affected set (q162 append: 46
                # "affected" of which 30 were comment fallout).
                stripped = text[ln - 1].strip() if 0 < ln <= len(text) else "#"
                if stripped and not stripped.startswith("#"):
                    out.add((info.name, None))
    return out


# ------------------------------------------------------------ rotation


def affected_queries(
    changed: set[Unit], modules: dict[str, ModuleInfo] | None = None
) -> list[str]:
    """Catalog queries whose reachable-unit closure intersects
    ``changed`` (registration order)."""
    modules = modules or load_package()
    out = []
    for qname, start in query_units().items():
        if closure(modules, start) & changed:
            out.append(qname)
    return out


def evidence_rounds(
    repo: str = REPO, max_round: int | None = None
) -> dict[str, int]:
    """query -> newest round with a fully-green driver row.

    ``max_round`` caps which ``CORRECTNESS_r*.json`` files count —
    pass :func:`adjudicated_latest_round` to see the evidence state
    as of the last round whose verdict commit exists (the
    freshness-floor lints use this so a driver artifact landing in
    the worktree BEFORE its verdict commit cannot flip them red;
    VERDICT r13 item 1 / ADVICE r13)."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if max_round is not None and rnd > max_round:
            continue
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for q, row in data.items():
            if not isinstance(row, dict) or row.get("err"):
                continue
            if row.get("rows_match") and row.get("hash_match", True):
                latest[q] = max(latest.get(q, 0), rnd)
    return latest


def adjudicated_latest_round(repo: str = REPO) -> int | None:
    """Newest evidence round whose ``round N: verdict`` commit
    resolves — the grace boundary for the freshness-floor lints
    (VERDICT r13 item 1): between the driver dropping
    ``CORRECTNESS_r{N}.json`` and the round-N verdict commit landing,
    the rotation head cannot yet have been regenerated against the
    new evidence, so the lints compare against the last ADJUDICATED
    round's evidence instead (mirroring ``stale_queries``'
    skip-with-warning tolerance for the same state)."""
    rounds = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m:
            rounds.add(int(m.group(1)))
    for rnd in sorted(rounds, reverse=True):
        if round_commit(rnd, repo) is not None:
            return rnd
    return None


def round_commit(n: int, repo: str = REPO) -> str | None:
    """The driver's ``round N: verdict...`` commit — its tree is the
    end-of-round-N plan code, so it is the base against which round-N
    driver evidence was earned."""
    try:
        log = subprocess.run(
            ["git", "log", "--format=%H %s"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError):
        return None
    for line in log.splitlines():
        sha, _, subject = line.partition(" ")
        if re.match(rf"round {n}: verdict", subject):
            return sha
    return None


def stale_queries(
    modules: dict[str, ModuleInfo] | None = None,
    repo: str = REPO,
    max_round: int | None = None,
) -> dict[str, int]:
    """query -> newest-evidence round, for every query whose plan
    CHANGED since that round (i.e. whose newest driver row no longer
    certifies the shipped implementation). This is the computed form
    of the q20-class audit: q20's artifact-read rewrite in round 11
    left its newest driver row at r8, which this function reports as
    ``{"q20_invoice_pipeline": 8, ...}`` until a fresh row lands.
    Queries with no driver evidence at all map to round 0.

    A round whose ``round N: verdict`` commit cannot be resolved (or
    whose diff fails) is SKIPPED with a stderr warning rather than
    aborting wholesale — e.g. when ``CORRECTNESS_r{N}.json`` already
    exists in the worktree before the round-N verdict commit lands,
    the other rounds' staleness must still feed the rotation head
    (ADVICE r12: the previous all-or-nothing return of None was
    coerced to ``{}`` by scripts/rotation.py, silently dropping the
    entire stale tier)."""
    import sys

    modules = modules or load_package()
    rounds = evidence_rounds(repo, max_round)
    qunits = query_units()
    closures = {q: closure(modules, u) for q, u in qunits.items()}
    out: dict[str, int] = {q: 0 for q in qunits if q not in rounds}
    for ev_round in sorted({rounds[q] for q in qunits if q in rounds}):
        base = round_commit(ev_round, repo)
        lines = changed_lines(base, repo) if base is not None else None
        if lines is None:
            print(
                f"rotation: WARNING — no resolvable 'round {ev_round}: "
                "verdict' commit (or diff failed); skipping staleness "
                "for that evidence round",
                file=sys.stderr,
            )
            continue
        changed = changed_units(modules, lines, base, repo)
        for q, ev in rounds.items():
            if ev == ev_round and q in closures and closures[q] & changed:
                out[q] = ev
    return out
