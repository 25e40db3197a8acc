"""Simulate the round driver: smoke entry() at sf0.001, then compare
every queries()[name] against oracle_sql()[name] via DuckDB at sf0.01
(row-count + sorted schema + md5 of sorted row reprs).

Runs the comparison TWICE: once under the repo session (ANSI off, UTC,
Arrow on — what bench/pytest use) and once under ANSI-on + Arrow-off (the
round driver's observed session config: Spark 4 defaults ANSI to ON,
and the r10 red row proved its createDataFrame takes the strict
pickle path, i.e. Arrow disabled). The second pass exists because of r03: ``dedup_minhash_lsh``
relied on silent int64 wraparound, green under the repo session and an
ARITHMETIC_OVERFLOW crash in the driver. ANSI is a runtime SQL conf,
so one JVM serves both passes.

Usage:
    python tools/driver_sim.py                 # both passes, all queries
    python tools/driver_sim.py --only a,b,c    # subset (both passes)
    python tools/driver_sim.py --window        # just the driver's 50-slot window
    python tools/driver_sim.py --skip-ansi     # repo-session pass only
    python tools/driver_sim.py --ledger        # recompute the driver-proof
                                               # ledger from the GIT-TRACKED
                                               # CORRECTNESS_r*.json (no Spark;
                                               # COVERAGE.md numbers must match
                                               # this output — pinned by
                                               # tests/test_docs_coverage.py)
    python tools/driver_sim.py --rotation [N]  # next round's N-slot (default:
                                               # the committed window's
                                               # non-veteran width) segment:
                                               # eligible never-proven queries
                                               # first, then CODE-TOUCHED since
                                               # last green (r15, VERDICT r14
                                               # #1), then stalest MOST-RECENT
                                               # green; paste into
                                               # registry.DRIVER_WINDOW)
    python tools/driver_sim.py --rotation-note # write ROTATION_r{N}.json —
                                               # machine-readable provenance of
                                               # this round's window (what
                                               # rotated in/out and why), so
                                               # PERF's window diff is never
                                               # mistaken for dropped queries
"""
import hashlib
import math
import os
import sys
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import __spark_entry__ as E
from firstamerican_etl_spark.session import get_spark

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def fetch_oracle(con, sql):
    """Fetch an oracle result the way the round driver does: through
    Arrow.  DBAPI ``fetchall()`` coerces DuckDB HUGEINT to plain Python
    int, hiding the Decimal-vs-int hash divergence the driver sees
    (r04: five red rows the sim called green).  Arrow keeps HUGEINT as
    decimal128 → Python ``Decimal``, so the sim hashes what the driver
    hashes."""
    tbl = con.execute(sql).arrow()
    cols = tbl.column_names
    pydata = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    rows = list(zip(*pydata)) if cols else []
    return cols, rows


def norm(v):
    # NOTE: type-faithful on purpose — Decimal passes through unchanged
    # so repr() hashing distinguishes Decimal('3') from int 3, exactly
    # like the driver's typed value-hash.
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return round(v, 9)
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def driver_canon_gate(cols, rows):
    """Replicate the DRIVER's canonicalizer mechanics — a pandas
    DataFrame with columns sorted by name, then ``sort_values`` over
    every column (per the `_canon` traceback recorded in the r11
    CORRECTNESS artifact) — purely for its FAILURE behavior: any result
    shape the driver's canon rejects (e.g. ``TypeError: unhashable
    type: 'list'`` on raw ARRAY output columns) must raise HERE, in the
    sim, first. Three rounds of sim/driver divergence (r10 Arrow
    on/off, r11 list cells) all came from reimplementing the driver's
    compare instead of mimicking it; this gate closes the class. The
    value hash itself stays on the stable norm/repr scheme below so the
    261 existing hash baselines are untouched."""
    import pandas as pd

    pdf = pd.DataFrame.from_records(list(rows), columns=list(cols))
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf.sort_values(by=list(pdf.columns), kind="mergesort")


def hash_rows(cols, rows):
    driver_canon_gate(cols, rows)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    reprs = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    return hashlib.md5("\n".join(reprs).encode()).hexdigest()


def run_pass(spark, con, qs, oracles, label):
    mismatch = err = 0
    for name in sorted(qs):
        try:
            df = qs[name](spark, SF)
            scols = df.columns
            srows = [tuple(r) for r in df.collect()]
            if name not in oracles:
                print(f"  [{label}] rows-only {name}: {len(srows)} rows")
                continue
            ocols, orows = fetch_oracle(con, oracles[name])
            problems = []
            if sorted(scols) != sorted(ocols):
                problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
            if len(srows) != len(orows):
                problems.append(f"rowcount {len(srows)} vs {len(orows)}")
            if not problems and hash_rows(scols, srows) != hash_rows(ocols, orows):
                problems.append("value-hash")
            if problems:
                mismatch += 1
                print(f"  [{label}] MISMATCH {name}: {'; '.join(problems)}")
        except Exception as e:
            err += 1
            print(f"  [{label}] ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
    print(f"[{label}] done: {len(qs)} queries, {mismatch} mismatch, {err} error")
    return mismatch + err


def _tracked_artifacts(root):
    """Git-TRACKED CORRECTNESS_r*.json paths, sorted by round number.

    Tracked-only is the point (VERDICT r12 #1): the round driver drops
    its new artifact UNTRACKED after the builder's final commit, and
    any ledger/staleness computation that globs the working tree
    re-ages the world mid-judgment — both freshness pins
    (tests/test_docs_coverage.py, tests/test_registry_window.py) went
    red at handoff two rounds running, by construction. Computing from
    the committed state makes the untracked drop next-round input
    instead. Falls back to a directory glob only when git itself is
    unavailable (e.g. an exported tree). The fallback triggers ONLY
    when git itself fails — a successful `git ls-files` returning
    zero artifacts means zero artifacts, and globbing then would
    resurrect exactly the untracked-drop bug this function exists to
    prevent (r13 review)."""
    import glob
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", root, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.split()
        files = [os.path.join(root, f) for f in out]
    except (FileNotFoundError, subprocess.CalledProcessError) as exc:
        # Only two situations legitimately reach the glob: git binary
        # absent, or the tree is not a repository (exported tarball).
        # Anything else (transient git failure, timeout) must NOT
        # silently fall back — that resurrects the untracked-drop
        # re-aging bug (r13 ADVICE). CalledProcessError other than
        # not-a-repo re-raises.
        if isinstance(exc, subprocess.CalledProcessError) and (
            "not a git repository" not in (exc.stderr or "").lower()
        ):
            raise
        print(
            "driver_sim: WARNING: git unavailable — falling back to a "
            "working-tree glob for CORRECTNESS_r*.json (untracked "
            "artifacts WILL be counted)",
            file=sys.stderr,
        )
        files = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    return sorted(files, key=lambda s: int(s.rsplit("_r", 1)[1].split(".")[0]))


def _green_rows(root, files=None):
    """Yield (round, name) for every GREEN row across the tracked
    CORRECTNESS artifacts. Green = err None, rows_match True, and
    neither schema_match nor hash_match False (rows-only checks record
    None there, which still counts as that weaker green — the artifact
    says which). The single source of the green predicate: both
    proven_ledger() and rotation_segment() build on this, so the
    ledger and the rotation can't silently diverge (ADVICE r12).
    ``files`` lets a caller that already listed the tracked artifacts
    avoid a second `git ls-files` round-trip."""
    import json

    for f in (files if files is not None else _tracked_artifacts(root)):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        for name, row in json.load(open(f)).items():
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                yield rnd, name


def proven_ledger(repo_root=None):
    """The driver-proof ledger, recomputed from first principles over
    the git-tracked CORRECTNESS_r*.json artifacts (_green_rows). Returns
    a dict with the proven {name: first_round}, the eligible
    never-proven list (full value oracle, non-contrast), and the
    ineligible list. COVERAGE.md's ledger section is generated from
    this; the r10 verdict found the hand-maintained counts had drifted
    (claimed 164/209 vs actual 160/204), so the numbers now live here
    and tests/test_docs_coverage.py pins the prose to this function."""
    root = repo_root or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proven = {}
    files = _tracked_artifacts(root)  # listed once, reused below
    # newest ARTIFACT round — not max(first-proven): a round whose
    # window proves no first-timers still advances the "through rN"
    # label (r11 review)
    latest_round = max(
        (int(f.rsplit("_r", 1)[1].split(".")[0]) for f in files), default=0
    )
    for rnd, name in _green_rows(root, files):
        proven.setdefault(name, rnd)
    from firstamerican_etl_spark.plans.registry import load_all

    reg = load_all()
    never = [n for n in reg if n not in proven]
    eligible = sorted(
        n for n in never
        if reg[n].oracle is not None and "contrast" not in reg[n].tags
    )
    ineligible = sorted(
        (n, "contrast" if "contrast" in reg[n].tags else "rows-only")
        for n in never
        if n not in set(eligible)
    )
    return {
        "registry_total": len(reg),
        "latest_round": latest_round,
        "proven": proven,
        "eligible_never_proven": eligible,
        "ineligible_never_proven": ineligible,
    }


def print_ledger():
    led = proven_ledger()
    proven = led["proven"]
    rounds = sorted(set(proven.values()))
    cum = 0
    for r in rounds:
        cum += sum(1 for v in proven.values() if v == r)
        print(f"  through r{r}: {cum}")
    print(f"driver-proven: {len(proven)} / {led['registry_total']}")
    print(f"eligible never-proven ({len(led['eligible_never_proven'])}):")
    for n in led["eligible_never_proven"]:
        print(f"  E {n}")
    print(f"ineligible never-proven ({len(led['ineligible_never_proven'])}):")
    for n, why in led["ineligible_never_proven"]:
        print(f"  I {n} ({why})")


WINDOW_VETERANS = (
    "fa_ranked_deed",
    "fa_valhist_cascade",
    "fa_flagship_merged",
    "q1_pricing_summary",
    "corpus_clean_pipeline",
)


def _default_slots() -> int:
    """Non-veteran window width, derived from the committed window —
    never a hard-coded literal (r13 review: three stale 43s would have
    produced a 48-slot paste after the window grew to 45 rotation
    slots)."""
    from firstamerican_etl_spark.plans.registry import DRIVER_WINDOW

    return len(DRIVER_WINDOW) - len(WINDOW_VETERANS)


def _artifact_commit(root: str, rnd: int) -> str | None:
    """Commit hash that last touched CORRECTNESS_r{rnd}.json — the
    round-close boundary for that round's proofs. None when git can't
    answer (exported tree): touched-detection then degrades to 'not
    touched', i.e. the pre-r15 pure-staleness ordering."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", root, "log", "-n1", "--format=%H", "--",
             f"CORRECTNESS_r{rnd}.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.strip()
        return out or None
    except (FileNotFoundError, subprocess.CalledProcessError):
        return None


def _module_fingerprints(src: str) -> dict[str, str]:
    """{top-level name: fingerprint} for one module source: the sha1
    of the name's own AST dump plus the dumps of every same-module
    top-level definition it (transitively) references. Function-level
    precision with helper awareness: a rewrite of a shared helper
    (_coshipment_backbone, a bucket() closure) changes the fingerprint
    of every query function that reaches it, while an unrelated
    query's edit in the same module does not. Decorators are part of
    the FunctionDef node, so an oracle-SQL change in @register(...)
    also rolls the fingerprint (an oracle change warrants re-proof as
    much as a code change). Cross-MODULE helpers are out of scope by
    design — every r14 cross-module optimization also edited its call
    sites, and module-wide granularity was measured to flood the
    45-slot window with unrelated same-file queries."""
    import ast
    import hashlib

    tree = ast.parse(src)
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node
    refs: dict[str, set[str]] = {}
    for name, node in defs.items():
        used = {m.id for m in ast.walk(node) if isinstance(m, ast.Name)}
        refs[name] = {u for u in used if u in defs and u != name}
    dumps = {name: ast.dump(node) for name, node in defs.items()}
    fps: dict[str, str] = {}
    for name in defs:
        closure, stack = {name}, [name]
        while stack:
            for dep in refs[stack.pop()]:
                if dep not in closure:
                    closure.add(dep)
                    stack.append(dep)
        h = hashlib.sha1()
        for member in sorted(closure):
            h.update(dumps[member].encode())
        fps[name] = h.hexdigest()
    return fps


def code_touched_since_green(
    root: str, last_green: dict[str, int]
) -> set[str]:
    """Names whose IMPLEMENTING CODE changed between the commit that
    recorded their most recent green driver row and the latest
    committed round boundary (VERDICT r14 #1: the r14 rewrites dodged
    the independent sf0.01 oracle for ~6 rounds because the rotation
    keyed on proof staleness alone — a rewritten query must re-prove
    NEXT round, not when its slot comes up).

    "Changed" = the registered function's same-module AST-closure
    fingerprint (_module_fingerprints) differs between the two
    commits; a file that didn't exist at the base, or a function
    absent from it, counts as touched (rename/move ⇒ re-prove), and so
    does one the boundary fingerprints cannot see (nested or factory-
    built: two missing entries would otherwise prove it unchanged).

    Determinism within a round: both endpoints are COMMITTED history
    (the per-round artifact commits), never the working tree or HEAD —
    so edits made DURING a round do not move this round's window (they
    enter the computation when the round's own artifact lands, i.e.
    next round), and tests/test_registry_window.py stays green from
    round start to round close."""
    import subprocess

    from firstamerican_etl_spark.plans.registry import load_all

    files = _tracked_artifacts(root)
    latest = max(
        (int(f.rsplit("_r", 1)[1].split(".")[0]) for f in files), default=0
    )
    boundary = _artifact_commit(root, latest)
    if boundary is None:
        return set()
    reg = load_all()

    def _fps_at(commit: str, rel: str) -> dict[str, str] | None:
        try:
            src = subprocess.run(
                ["git", "-C", root, "show", f"{commit}:{rel}"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout
            return _module_fingerprints(src)
        except (FileNotFoundError, subprocess.CalledProcessError, SyntaxError):
            return None

    commit_by_round: dict[int, str | None] = {}
    fp_cache: dict[tuple[str, str], dict[str, str] | None] = {}
    touched: set[str] = set()
    for n, r in last_green.items():
        if n not in reg:
            continue
        try:
            code = reg[n].spark.__code__
        except AttributeError:
            continue
        rel = os.path.relpath(os.path.abspath(code.co_filename), root)
        fn_name = reg[n].spark.__name__
        if r not in commit_by_round:
            commit_by_round[r] = _artifact_commit(root, r)
        base = commit_by_round[r]
        if base is None or base == boundary:
            continue
        for commit in (base, boundary):
            if (commit, rel) not in fp_cache:
                fp_cache[(commit, rel)] = _fps_at(commit, rel)
        fp_base, fp_now = fp_cache[(base, rel)], fp_cache[(boundary, rel)]
        if fp_now is None:
            continue  # file unreadable at the boundary: no claim either way
        if (
            fp_base is None
            or fn_name not in fp_now
            or fp_base.get(fn_name) != fp_now[fn_name]
        ):
            touched.add(n)
    return touched


def rotation_segment(n_slots: int | None = None) -> list[tuple[int, str]]:
    """The next round's re-prove rotation: the ``n_slots`` (default:
    the committed window's non-veteran width) ELIGIBLE queries (full
    value oracle, non-contrast, excluding the pinned veterans),
    ordered CODE-TOUCHED-FIRST (r15, VERDICT r14 #1: any query whose
    implementing module changed since its last green row jumps to the
    head of the stalest segment), then by oldest MOST RECENT green
    driver row — max round per name across the git-tracked
    CORRECTNESS_r*.json, never first-proven, which is immutable and
    would re-select the same cohort forever (r12 review). Within each
    group: stalest first, ties alphabetical. Returns
    (last_green_round, name) pairs; tests/test_registry_window.py pins
    the committed window's rotation slots to this computation."""
    from firstamerican_etl_spark.plans.registry import load_all

    if n_slots is None:
        n_slots = _default_slots()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for rnd, name in _green_rows(root):
        last[name] = max(last.get(name, 0), rnd)
    reg = load_all()
    touched = code_touched_since_green(root, last)
    pool = sorted(
        ((r, n) for n, r in last.items()
         if n in reg and n not in WINDOW_VETERANS
         and reg[n].oracle is not None and "contrast" not in reg[n].tags),
        key=lambda rn: (rn[1] not in touched, rn[0], rn[1]),
    )
    return pool[:n_slots]


def print_rotation(n_slots: int | None = None):
    """Print the COMPLETE paste-into-DRIVER_WINDOW block: the pinned
    veterans (with their comment line) followed by eligible
    NEVER-PROVEN queries (retries and brand-new queries — no green
    row, stalest by definition; ADVICE r12 caught the tool omitting
    them while the window comment promised they 'enter at the top'),
    then the stalest-proven segment filling the remaining slots. The
    output is byte-pasteable as the tuple body of
    plans/registry.py DRIVER_WINDOW (r13 VERDICT ask #6). n_slots is
    the TOTAL non-veteran slot count (default: the committed
    window's)."""
    if n_slots is None:
        n_slots = _default_slots()
    never = [
        n for n in proven_ledger()["eligible_never_proven"]
        if n not in WINDOW_VETERANS
    ]
    # Fail loudly at generation time, not later in test_registry_window
    # (r13 ADVICE): an over-width paste means the backlog needs a plan,
    # not a silent truncation.
    if len(never) > n_slots:
        raise SystemExit(
            f"rotation backlog overflow: {len(never)} never-proven "
            f"eligible queries > {n_slots} non-veteran slots — grow the "
            "window or stage the backlog across rounds"
        )
    print(f"    # — pinned veterans ({len(WINDOW_VETERANS)}) —")
    for n in WINDOW_VETERANS:
        print(f'    "{n}",')
    print(
        "    # — oldest-first re-prove rotation "
        f"({n_slots}), keyed on MOST RECENT green —"
    )
    if never:
        print(f"    # never-proven (retries / new queries), {len(never)}:")
        for n in never:
            print(f'    "{n}",')
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for rnd, name in _green_rows(root):
        last[name] = max(last.get(name, 0), rnd)
    touched = code_touched_since_green(root, last)
    cur: object = object()
    for r, n in rotation_segment(n_slots - len(never)):
        grp = f"code-touched since last green (r{r})" if n in touched \
            else f"last green r{r}:"
        if grp != cur:
            print(f"    # {grp}")
            cur = grp
        print(f'    "{n}",')


def write_rotation_note(path: str | None = None) -> str:
    """Emit the machine-readable rotation provenance artifact
    (VERDICT r14 #9): PERF diffs two rounds' CORRECTNESS windows and
    lists rotation churn as ``queries_dropped`` — 44 phantom drops the
    last two judges each had to re-derive as window rotation. This
    records, per round, exactly which names rotated out (still
    registered, still locally oracled, still benched) and why each
    slot holds what it holds. Written as ROTATION_r{N}.json next to
    the repo root where the driver/judge can quote it."""
    import json
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from firstamerican_etl_spark.plans.registry import DRIVER_WINDOW, load_all

    files = _tracked_artifacts(root)
    latest = max(
        (int(f.rsplit("_r", 1)[1].split(".")[0]) for f in files), default=0
    )
    this_round = latest + 1
    boundary = _artifact_commit(root, latest)
    prev_window: list[str] = []
    if boundary is not None:
        # the previous round's committed window, parsed from the
        # registry as of the boundary commit (no import side effects)
        import ast

        try:
            src = subprocess.run(
                ["git", "-C", root, "show",
                 f"{boundary}:firstamerican_etl_spark/plans/registry.py"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout
            for node in ast.walk(ast.parse(src)):
                if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                    continue
                targets = (
                    node.targets if isinstance(node, ast.Assign)
                    else [node.target]
                )
                if node.value is not None and any(
                    isinstance(t, ast.Name) and t.id == "DRIVER_WINDOW"
                    for t in targets
                ):
                    prev_window = list(ast.literal_eval(node.value))
        except (subprocess.CalledProcessError, FileNotFoundError, ValueError):
            prev_window = []
    last: dict[str, int] = {}
    for rnd, name in _green_rows(root, files):
        last[name] = max(last.get(name, 0), rnd)
    touched = code_touched_since_green(root, last)
    reg = load_all()
    note = {
        "round": this_round,
        "window": list(DRIVER_WINDOW),
        "veterans": list(WINDOW_VETERANS),
        "policy": (
            "5 pinned veterans + eligible never-proven + CODE-TOUCHED "
            "since last green (stalest first) + stalest most-recent-"
            "green fill; regenerate with `driver_sim --rotation`"
        ),
        "code_touched_in_window": sorted(
            n for n in DRIVER_WINDOW if n in touched
        ),
        "last_green_round": {n: last.get(n) for n in DRIVER_WINDOW},
        "rotated_out": sorted(set(prev_window) - set(DRIVER_WINDOW)),
        "rotated_in": sorted(set(DRIVER_WINDOW) - set(prev_window)),
        "rotated_out_all_still_registered": all(
            n in reg for n in set(prev_window) - set(DRIVER_WINDOW)
        ),
        "note": (
            "names in rotated_out are NOT dropped queries: every "
            "registered query keeps full local oracle coverage "
            "(tests/test_oracle.py) and the bench HEADLINE list is "
            "append-only; the window only chooses which 50 get this "
            "round's independent driver proof"
        ),
    }
    out_path = path or os.path.join(root, f"ROTATION_r{this_round}.json")
    with open(out_path, "w") as fh:
        json.dump(note, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return out_path


def main():
    args = sys.argv[1:]
    if "--ledger" in args:
        print_ledger()
        return
    if "--rotation-note" in args:
        print(f"wrote {write_rotation_note()}")
        return
    if "--rotation" in args:
        i = args.index("--rotation")
        n = None  # default: the committed window's non-veteran width
        if i + 1 < len(args) and args[i + 1].isdigit():
            n = int(args[i + 1])
        print_rotation(n)
        return
    only = None
    if "--only" in args:
        only = set(args[args.index("--only") + 1].split(","))
    skip_ansi = "--skip-ansi" in args

    spark = get_spark(app_name="driver-sim")
    smoke = E.entry(spark)
    n = smoke.count()
    print(f"smoke entry(): {n} rows, schema={[f.name for f in smoke.schema.fields]}")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    if "--window" in args:
        from firstamerican_etl_spark.plans.registry import DRIVER_WINDOW

        only = set(DRIVER_WINDOW) | (only or set())
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = E.oracle_sql()

    bad = run_pass(spark, con, qs, oracles, "repo-session")

    if not skip_ansi:
        # Driver parity: the round driver builds a default-config
        # session — Spark 4 default is ANSI ON. Flip the runtime conf
        # and re-run everything; overflow/strict-cast sites that the
        # repo session silently wraps will throw here.
        spark.catalog.clearCache()
        # Drop every content-keyed staged generation: without this, the
        # ANSI pass would re-read parquet the repo-session pass staged
        # and the staged subtrees would never EXECUTE under ANSI — an
        # ANSI-only fault (overflow, strict cast) inside them would
        # report green here and crash in the real driver (the r03
        # failure mode this second pass exists to catch).
        from firstamerican_etl_spark.operators.scale import reset_staging

        reset_staging()
        spark.conf.set("spark.sql.ansi.enabled", "true")
        # ...and with Arrow OFF: the real driver's session takes the
        # strict pickle path for createDataFrame (proven by the r10
        # range_join red row — `LongType() can not accept object 0.0`
        # comes from _createFromLocal's verifier, which Arrow's silent
        # dtype cast bypasses). Running the parity pass under
        # ANSI-on + Arrow-off makes the sim's second pass match the
        # driver's observed config on both axes at zero extra cost.
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
        bad += run_pass(spark, con, qs, oracles, "ansi-on+arrow-off")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
