#!/usr/bin/env python3
"""Round-close consistency gates: the two hand checks the judge runs,
as a script, so a false claim can't ship.

1. Docstring spec-claims — every "XSpec pins/asserts/proves ..."
   sentence in main (non-test) Scala source must name a test suite
   that actually exists under src/test. Emits the claim table
   (file:line  suite  OK/MISSING).

2. SURVEY §2.3 ↔ registry cross-check — the query names declared in
   SURVEY.md's §2.3 tables must equal the keys of
   `SparkEntry.oracleSql` (as dumped by any `graft.Verify` run's
   oracle_sql.json), in BOTH directions.

3. Ceiling coverage — every registry query must carry a line in the
   ceiling table `src/main/resources/graft/ceilings.tsv` (the ceiling
   protocol: recorded the same round the query lands), and no ceiling
   may be orphaned.

0. Input freshness — the oracle_sql.json handed in must carry exactly
   the SURVEY §2.3 surface; a stale pre-refresh dump fails loudly
   ("stale oracle_sql.json?") instead of confidently mis-reporting
   the new queries as orphaned ceilings (round-19 judge finding).

4. Round-close artifact trail — the CURRENT round's TESTS_rN.json and
   CHECKS_rN.txt must exist at HEAD (round 18 shipped its "255/255,
   gates clean" claim only in commit messages; the judge had to re-run
   sbt to re-establish it). N defaults to max(CORRECTNESS_r*.json)+1 —
   the driver commits round N-1's correctness artifact before round N
   builds — and can be overridden with `--round N`.

5. Dangling tool references — every `runMain graft.X` and every
   scaladoc `[[graft.….X]]` link under src/ and .claude/ must name an
   object, class or trait declared in src/main (and, for a member
   link, a member declared in that type's file). Under src/main an
   unqualified link `[[name]]` or `[[Type.member]]` must name a
   declaration in the same file, a top-level type in src/main (with
   the member declared in that type's file), or a name the file
   imports; links by a fully qualified `org.`, `java.` or `scala.`
   path are skipped. Scaladoc links are not compiled, so deleting a
   tool or member leaves them dangling with no build error.

6. Benchmark API references — every `graft.…` name that perfbench/src
   imports or qualifies must be declared in src/main, and every
   `Obj.member` it calls on an imported graft object must be declared
   in that object's file. The benchmark's sources are frozen and are
   compiled against src/main, so renaming a sink or query API fails
   every benchmark workload, not this repo's build.

7. One artifact store — outside comments, `saveAsTable(`,
   `CLUSTERED BY` and `_SUCCESS` appear under src/main only in
   `graft/queries/Artifacts.scala`: a staged, marked or bucketed
   build written anywhere else is a second copy of the store's
   staging and registration rules.

8. One banding core — outside comments, `posexplode(array(`,
   `explode(slice(` and `lit(s"$i|")` appear under src/main only in
   `graft/queries/Banding.scala`: a band explode, a tail-slice pair
   generator or a minhash slot written anywhere else is a second copy
   of the near-dup family's banding rules.

9. Parquet reads resolve their settings once — outside comments,
   `.appendFile(` appears nowhere under src/main, and
   `ParquetFileReader.open(` and `new Configuration(` appear only in
   `graft/sink/ParquetFiles.scala`: parquet-mr's `appendFile` and
   one-argument `open` build a new Hadoop `Configuration` per call,
   which parses its XML defaults again.

10. One connected-components owner — outside comments, `reach(id, r)`
   and `"src_label"` appear under src/main only in
   `graft/queries/Components.scala`: an oracle closure CTE or a
   label-propagation loop written anywhere else is a second copy of
   the components rule.

11. One export sink drive — outside comments, `Some("corpus")` and
   `shuffle_key div` appear under src/main only in
   `graft/queries/Export.scala`: a corpus sink or a permutation-range
   batch split written anywhere else is a second copy of the export's
   sink drive.

Usage:
    python3 scripts/round_close_checks.py [path/to/oracle_sql.json] \
        [--round N]

oracle_sql.json defaults to /tmp/verify_out/oracle_sql.json (the
verify recipe's output). Exit 0 iff all checks are clean.

Chicken-and-egg note: CHECKS_rN.txt IS this script's captured output,
so the canonical close sequence is: run with artifacts present from a
previous invocation (or tee the run into CHECKS_rN.txt and re-run —
the second run gates the first's capture).
"""
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(REPO, "src/main/scala")
TEST = os.path.join(REPO, "src/test/scala")
SURVEY = os.path.join(REPO, "SURVEY.md")
CEILINGS = os.path.join(REPO, "src/main/resources/graft/ceilings.tsv")

# a docstring claim = a suite name followed (within the sentence) by a
# claim verb; ".scala:NN" cites are matched too
CLAIM = re.compile(
    r"\b([A-Z]\w*(?:Spec|PropSpec))\b(?:\.scala)?(?::\d+)?"
    r"[^.]{0,120}?\b(pins|pinned|asserts|proves|covers|verifies)\b")


def scala_files(root):
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def check_claims():
    suites = {os.path.splitext(os.path.basename(p))[0]
              for p in scala_files(TEST)}
    rows, bad = [], 0
    for path in scala_files(MAIN):
        text = open(path, encoding="utf-8").read()
        # docstrings/comments only: strip code lines? Claims live in
        # comments; matching the whole file is fine (a suite name in
        # code would be a test dependency, which main code never has).
        for m in CLAIM.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            suite, ok = m.group(1), m.group(1) in suites
            rows.append((os.path.relpath(path, REPO), line, suite,
                         m.group(2), ok))
            bad += 0 if ok else 1
    print(f"== docstring spec-claims ({len(rows)} found) ==")
    for path, line, suite, verb, ok in rows:
        print(f"  {'OK     ' if ok else 'MISSING'} {path}:{line}  "
              f"{suite} {verb}")
    return bad


# `runMain graft.X` or a scaladoc link `[[graft.a.B.member]]`
TOOL_REF = re.compile(r"runMain (graft(?:\.\w+)+)|\[\[(graft(?:\.\w+)+)\]\]")
TOP_DECL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?)\s+)*"
    r"(?:object|class|trait)\s+(\w+)", re.M)


def declared_types():
    """package-qualified top-level type name -> its file's text"""
    types = {}
    for path in scala_files(MAIN):
        text = open(path, encoding="utf-8").read()
        pkg = re.search(r"^package ([\w.]+)", text, re.M)
        for m in TOP_DECL.finditer(text):
            types[f"{pkg.group(1)}.{m.group(1)}"] = text
    return types


def declares(text, name):
    return re.search(r"\b(?:object|class|trait|def|val|var|type)\s+"
                     + re.escape(name) + r"\b", text) is not None


def resolves(ref, types):
    segs = ref.split(".")
    for i in range(len(segs), 1, -1):
        text = types.get(".".join(segs[:i]))
        if text is not None:
            return all(declares(text, m) for m in segs[i:])
    return False


# an unqualified scaladoc link: `[[name]]` or `[[Type.member]]`
LOCAL_LINK = re.compile(r"\[\[(?!(?:graft|org|java|scala)\.)(\w+)(?:\.(\w+))?\]\]")
IMPORT = re.compile(r"^import [\w.]+\.(?:\{([^}]*)\}|(\w+))", re.M)


def imported_names(text):
    names = set()
    for m in IMPORT.finditer(text):
        for sel in (m.group(1).split(",") if m.group(1) else [m.group(2)]):
            name, _, alias = (x.strip() for x in sel.partition("=>"))
            names.add(alias or name)
    return names


def local_link_misses(text, types):
    """(line, link) of each unqualified link in a src/main file that
    names nothing the file declares, imports or can see as a type."""
    by_name = {}
    for full, body in types.items():
        by_name.setdefault(full.rsplit(".", 1)[1], []).append(body)
    imports = imported_names(text)
    bad = []
    for m in LOCAL_LINK.finditer(text):
        name, member = m.group(1), m.group(2)
        if member is None:
            ok = declares(text, name) or name in by_name or name in imports
        elif declares(text, name):
            ok = declares(text, member)
        elif name in by_name:
            ok = any(declares(body, member) for body in by_name[name])
        else:
            ok = name in imports
        if not ok:
            bad.append((text.count("\n", 0, m.start()) + 1, m.group(0)))
    return bad


def check_tool_refs():
    types = declared_types()
    roots = [os.path.join(REPO, "src"), os.path.join(REPO, ".claude")]
    n, bad = 0, []
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for name in sorted(names):
                path = os.path.join(dirpath, name)
                try:
                    text = open(path, encoding="utf-8").read()
                except (UnicodeDecodeError, OSError):
                    continue
                for m in TOOL_REF.finditer(text):
                    n += 1
                    ref = m.group(1) or m.group(2)
                    if not resolves(ref, types):
                        line = text.count("\n", 0, m.start()) + 1
                        bad.append((os.path.relpath(path, REPO), line, ref))
                if path.startswith(MAIN) and path.endswith(".scala"):
                    n += len(LOCAL_LINK.findall(text))
                    bad += [(os.path.relpath(path, REPO), line, ref)
                            for line, ref in local_link_misses(text, types)]
    print(f"== runMain / [[graft.…]] / unqualified src/main links ({n} found) ==")
    for path, line, ref in bad:
        print(f"  MISSING {path}:{line}  {ref}")
    if not bad:
        print("  every reference resolves")
    return len(bad)


BENCH_SRC = os.path.join(REPO, "perfbench/src")
GRAFT_IMPORT = re.compile(r"^[ \t]*import (graft(?:\.\w+)*)\.(?:\{([^}]*)\}|(\w+))", re.M)
QUALIFIED = re.compile(r"\bgraft(?:\.\w+)+")
# a string or char literal, tried before a comment at the same
# position, so `//` inside a literal (DuckDB's integer division in
# oracle SQL) is kept as code; a `"""` literal ends at its last quote
COMMENT = re.compile(
    r'"""[\s\S]*?"""(?!")'
    r'|"(?:[^"\\\n]|\\.)*"'
    r"|'(?:[^'\\\n]|\\[^\n]+?)'"
    r"|//[^\n]*|/\*[\s\S]*?\*/")


def blank_comments(raw):
    """the text with every comment blanked to spaces, newlines kept so
    line numbers hold: a name in a comment is not compiled, and string
    and char literals are kept as they are"""
    return COMMENT.sub(lambda m: m.group(0) if m.group(0)[0] in "\"'"
                       else re.sub(r"[^\n]", " ", m.group(0)), raw)


def check_bench_refs():
    types = declared_types()
    n, bad = 0, []
    for path in sorted(scala_files(BENCH_SRC)):
        text = blank_comments(open(path, encoding="utf-8").read())
        refs, aliases, spans = [], {}, []
        for m in GRAFT_IMPORT.finditer(text):
            spans.append(m.span())
            pkg = m.group(1)
            for sel in (m.group(2).split(",") if m.group(2) else [m.group(3)]):
                name, _, alias = (x.strip() for x in sel.partition("=>"))
                if name == "_":
                    aliases.update((t.rsplit(".", 1)[1], t) for t in types
                                   if t.rsplit(".", 1)[0] == pkg)
                    continue
                refs.append((m.start(), f"{pkg}.{name}"))
                aliases[alias or name] = f"{pkg}.{name}"
        in_import = lambda i: any(a <= i < b for a, b in spans)
        refs += [(m.start(), m.group(0)) for m in QUALIFIED.finditer(text)
                 if not in_import(m.start())]
        for short, full in aliases.items():
            for m in re.finditer(r"(?<![\w.])" + re.escape(short) + r"\.(\w+)", text):
                if not in_import(m.start()):
                    refs.append((m.start(), f"{full}.{m.group(1)}"))
        for at, ref in sorted(refs):
            n += 1
            if not resolves(ref, types):
                line = text.count("\n", 0, at) + 1
                bad.append((os.path.relpath(path, REPO), line, ref))
    print(f"== perfbench/src → src/main names ({n} found) ==")
    for path, line, ref in bad:
        print(f"  MISSING {path}:{line}  {ref}")
    if not bad:
        print("  every name resolves")
    return len(bad)


STORE = os.path.join(MAIN, "graft/queries/Artifacts.scala")
STORE_ONLY = ("saveAsTable(", "CLUSTERED BY", "_SUCCESS")
BANDING = os.path.join(MAIN, "graft/queries/Banding.scala")
BANDING_ONLY = ("posexplode(array(", "explode(slice(", 'lit(s"$i|")')
PARQUET_FILES = os.path.join(MAIN, "graft/sink/ParquetFiles.scala")
PARQUET_FILES_ONLY = ("ParquetFileReader.open(", "new Configuration(")
NOWHERE = (".appendFile(",)
COMPONENTS = os.path.join(MAIN, "graft/queries/Components.scala")
COMPONENTS_ONLY = ("reach(id, r)", '"src_label"')
EXPORT = os.path.join(MAIN, "graft/queries/Export.scala")
EXPORT_ONLY = ('Some("corpus")', "shuffle_key div")


def check_owned(owner, tokens):
    """each of `tokens` outside comments in a src/main file other than
    `owner` (None: in any src/main file)"""
    bad = []
    for path in sorted(scala_files(MAIN)):
        if path == owner:
            continue
        text = blank_comments(open(path, encoding="utf-8").read())
        for tok in tokens:
            for m in re.finditer(re.escape(tok), text):
                line = text.count("\n", 0, m.start()) + 1
                bad.append((os.path.relpath(path, REPO), line, tok))
    where = f"outside {os.path.relpath(owner, REPO)}" if owner else "in src/main"
    print(f"== {', '.join(tokens)} {where} ==")
    for path, line, tok in bad:
        print(f"  {'OUTSIDE' if owner else 'FOUND'} {path}:{line}  {tok}")
    if not bad:
        print("  none")
    return len(bad)


def survey_names():
    lines = open(SURVEY, encoding="utf-8").read().splitlines()
    # §2.3 spans from its header to the next "## " header
    start = next(i for i, l in enumerate(lines)
                 if l.startswith("### 2.3 "))
    end = next(i for i in range(start + 1, len(lines))
               if lines[i].startswith("## "))
    names = []
    for l in lines[start:end]:
        m = re.match(r"\| `([a-z0-9_]+)`", l)
        if m:
            names.append(m.group(1))
    dupes = {n for n in names if names.count(n) > 1}
    return set(names), dupes


def check_survey(oracle_path):
    declared, dupes = survey_names()
    registry = set(json.load(open(oracle_path)))
    only_survey = sorted(declared - registry)
    only_registry = sorted(registry - declared)
    print(f"== SURVEY §2.3 ({len(declared)}) ↔ oracleSql "
          f"({len(registry)}) ==")
    if dupes:
        print(f"  DUPED in SURVEY: {sorted(dupes)}")
    for n in only_survey:
        print(f"  SURVEY-ONLY   {n}")
    for n in only_registry:
        print(f"  REGISTRY-ONLY {n}")
    if not (dupes or only_survey or only_registry):
        print("  clean in both directions")
    return len(dupes) + len(only_survey) + len(only_registry)


def baseline_keys():
    """The ceiling table's names: the first field of each
    `name<TAB>seconds<TAB>reason` line (Bench.parseCeilings validates
    the rest, and the test suite runs it on the shipped table)."""
    with open(CEILINGS, encoding="utf-8") as f:
        return {line.split("\t", 1)[0] for line in f.read().splitlines()}


def check_ceilings(oracle_path):
    registry = set(json.load(open(oracle_path)))
    ceilings = baseline_keys()
    ungated = sorted(registry - ceilings)
    orphaned = sorted(ceilings - registry)
    print(f"== ceilings ({len(ceilings)}) ↔ registry ({len(registry)}) ==")
    for n in ungated:
        print(f"  NO-CEILING {n}")
    for n in orphaned:
        print(f"  ORPHANED   {n}")
    if not (ungated or orphaned):
        print("  every query gated, no orphans")
    return len(ungated) + len(orphaned)


def current_round():
    ns = []
    for name in os.listdir(REPO):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", name)
        if m:
            ns.append(int(m.group(1)))
    return max(ns) + 1 if ns else None


def check_artifacts(rnd):
    if rnd is None:
        print("== round artifacts: no CORRECTNESS_r*.json to infer the "
              "round from — pass --round N ==")
        return 1
    missing = 0
    print(f"== round-{rnd} close artifacts at HEAD ==")
    for name in (f"TESTS_r{rnd}.json", f"CHECKS_r{rnd}.txt"):
        ok = os.path.exists(os.path.join(REPO, name))
        print(f"  {'OK     ' if ok else 'MISSING'} {name}")
        missing += 0 if ok else 1
    return missing


def check_freshness(oracle_path):
    """Stale-input gate (round-20, closing the round-19 judge finding):
    a pre-refresh oracle_sql.json silently validated last round's
    surface and reported the NEW queries as ORPHANED ceilings — a gate
    that can consume stale input isn't a gate. The dump must carry
    exactly the SURVEY §2.3 surface before any orphan/coverage verdict
    is trusted; on mismatch, fail loudly naming the likely cause.
    """
    declared, _ = survey_names()
    registry = set(json.load(open(oracle_path)))
    if registry != declared:
        print(f"stale oracle_sql.json? ({len(registry)} dump vs "
              f"{len(declared)} survey) — re-run "
              "`sbt \"runMain graft.Verify <sfDir> <outDir>\"` at HEAD "
              f"before trusting orphan/coverage results from {oracle_path}",
              file=sys.stderr)
        return 1
    return 0


USAGE = ("usage: python3 scripts/round_close_checks.py "
         "[path/to/oracle_sql.json] [--round N]")


def main():
    args = list(sys.argv[1:])
    rnd = None
    if "--round" in args:
        i = args.index("--round")
        # a bare or non-numeric --round must print usage, not a
        # traceback (round-19 advisory)
        if i + 1 >= len(args) or not args[i + 1].isdigit():
            print(USAGE, file=sys.stderr)
            print("--round requires a numeric value", file=sys.stderr)
            return 2
        rnd = int(args[i + 1])
        del args[i:i + 2]
    if rnd is None:
        rnd = current_round()
    oracle = args[0] if args else "/tmp/verify_out/oracle_sql.json"
    bad = check_claims()
    bad += check_tool_refs()
    bad += check_bench_refs()
    bad += check_owned(STORE, STORE_ONLY)
    bad += check_owned(BANDING, BANDING_ONLY)
    bad += check_owned(PARQUET_FILES, PARQUET_FILES_ONLY)
    bad += check_owned(None, NOWHERE)
    bad += check_owned(COMPONENTS, COMPONENTS_ONLY)
    bad += check_owned(EXPORT, EXPORT_ONLY)
    if not os.path.exists(oracle):
        print(f"oracle_sql.json not found at {oracle} — run "
              "`sbt \"runMain graft.Verify <sfDir> <outDir>\"` first",
              file=sys.stderr)
        return 2
    # a survey↔registry mismatch SHORT-CIRCUITS the ceiling check:
    # running it on a (likely stale) dump would print misleading
    # ORPHANED lines — the round-19 incident the freshness gate exists
    # to prevent. check_survey still runs first so a GENUINE drift
    # shows its per-name detail; the stale hint names the likely cause.
    if check_survey(oracle):
        check_freshness(oracle)
        print("RESULT: survey/registry mismatch — ceiling check skipped "
              "(stale oracle_sql.json? re-dump at HEAD and re-run)")
        return 1
    bad += check_ceilings(oracle)
    bad += check_artifacts(rnd)
    print("RESULT:", "clean" if bad == 0 else f"{bad} problem(s)")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
