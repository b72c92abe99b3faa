#!/usr/bin/env python3
"""List public Scala members that nothing in the program reaches.

Usage: python3 scripts/unreached.py [repo_root]

Scans `src/main/**/*.scala` for member `def`s and `object`s (declared
directly in an object, class or trait body). A member is REACHED when its
name occurs as a whole word, outside comments, in `perfbench/src` or in
live `src/main` code: code that is not the body of an unreached member.
Reachability is a fixpoint, so a helper only a dead member calls is dead
too. Overrides, `main` methods, `apply`/`unapply` and ENTRY_POINTS are
always live; `val`s, `var`s and classes count as live code. Names are
matched by spelling, not resolved, so members sharing a name shield each
other: the check finds dead names, not every dead overload.

Only public members are reported (neither the member nor its owner is
`private`/`protected`).

It also checks that only the harness mains read the environment: outside
comments, `SPARK_GRAFT_`, `sys.env`, `System.getenv` and
`Harness.envPositiveLong` may appear only in the files of ENV_READERS.
Operator code decides from its inputs and the session alone.

And it checks that each native kernel under KERNEL_DIR holds its algorithm
once: a `doGenCode` body there may not contain a loop (`for (`,
`while (`, `do {`, in Scala or in the generated Java text). The loop
belongs in a companion-object method that `eval` and the generated code
both call.

Exit status: 0 when every unreached public member is in ALLOWLIST, no
file outside ENV_READERS reads the environment and no kernel `doGenCode`
holds a loop; 1 when a member outside the allowlist is unreached, an
allowlisted member is reached (drop its entry), another file reads the
environment, or a `doGenCode` holds a loop; 2 on a usage error.
"""
import glob
import os
import re
import sys

# Owner.member -> why it stays although no program path calls it.
ALLOWLIST = {
    "Encoding.percentRankPpm":
        "per-row reference for percentRankPpmByValue; EncodingSpec compares them",
    "Dedup.minHashJaccardEstimate":
        "test twin: DedupSpec and PropertySpec check MinHash estimates with it",
    "Importance.enrichmentScores":
        "unfused reference for applyVerdictsFused; ImportanceSpec and PlanSpec use it",
    "Importance.applyVerdicts":
        "unfused reference for applyVerdictsFused; ImportanceSpec compares them",
    "HashFunctions.u64ModLong":
        "JVM twin of the Column-side u64 modulo; SimilaritySpec checks they agree",
    "MilanPipeline.factTableExists":
        "test hook: MilanPipelineSpec checks what a load wrote",
    "MilanPipeline.catalogTableExists":
        "test hook: MilanPipelineSpec checks the catalog side of a load",
    "MetricsListener.tasksSeen":
        "test hook: MetricsSpec reads per-group task counts",
}

# Called from outside the program, like a `main`.
ENTRY_POINTS = {
    "SparkEntry.entry",  # the flagship frame a spark-shell session asks for
}

# The only `src/main` files that may read the environment: the harness
# mains and their shared plumbing.
ENV_READERS = {"Harness", "Bench", "Verify", "Explain", "ScaleUp", "MilanApp", "MilanE2E"}
ENV_RE = re.compile(r"SPARK_GRAFT_|\bsys\.env\b|\bSystem\.getenv\b|\bHarness\.envPositiveLong\b")

# Native kernels: their `doGenCode` emits a call, never a loop.
KERNEL_DIR = os.path.join("src", "main", "scala", "graft", "plans")
LOOP_RE = re.compile(r"\b(?:for|while)\s*\(|\bdo\s*\{")

ALWAYS_LIVE = {"main", "apply", "unapply", "toString", "equals", "hashCode"}

DECL_RE = re.compile(
    r"((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+"
    r"|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"\b(def|object|class|trait|val|var)\s+(\w+)")
WORD_RE = re.compile(r"[A-Za-z_]\w*")
PARENT_RE = re.compile(r"(extends|with)\b\s*")
TYPE_RE = re.compile(r"[\w.]+")


def strip_comments(src, mask_strings=False):
    """Blank out // and (nested) /* */ comments, keeping newlines, so a
    `//` inside a string is never taken for a comment. With
    `mask_strings`, string and char literal contents become spaces (same
    length), so both forms of one file share their offsets."""
    out = []
    i, n = 0, len(src)

    def literal(j):
        text = src[i:j]
        return re.sub(r"[^\n]", " ", text) if mask_strings else text

    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """ closes at the LAST quote run
                j += 1
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j += 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 3 if src[i + 1] == "\\" else i + 2) + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
            continue
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("\n" * src.count("\n", i, j))
            i = j
            continue
        else:
            out.append(c)
            i += 1
            continue
        out.append(literal(j))
        i = j
    return "".join(out)


def skip_group(code, i):
    """Index just past the (...) or [...] group opening at code[i]."""
    closing = {"(": ")", "[": "]"}
    stack = [closing[code[i]]]
    i += 1
    while i < len(code) and stack:
        if code[i] in closing:
            stack.append(closing[code[i]])
        elif code[i] == stack[-1]:
            stack.pop()
        i += 1
    return i


def body_open(code, i):
    """Offset of the `{` opening the body of the template whose name ends
    at `i`, or None when it has no body."""
    n = len(code)
    while i < n:
        while i < n and code[i].isspace():
            i += 1
        if i < n and code[i] in "([":
            i = skip_group(code, i)
        elif i < n and code[i] == "{":
            return i
        else:
            m = PARENT_RE.match(code, i)
            if not m:
                return None
            i = m.end()
            if i < n and code[i] == "(":  # a function type: (A => B)
                i = skip_group(code, i)
            m = TYPE_RE.match(code, i)
            if m:
                i = m.end()
            while i < n and code[i] in "([":
                i = skip_group(code, i)
    return None


def members(path, code):
    """Member declarations of one string-masked file, each a dict with its
    owner, kind, name, visibility and the [start, end) offsets of its
    declaration and body."""
    found = []
    heads = {m.start(2): m for m in DECL_RE.finditer(code)}
    opens = {}  # body `{` offset -> (owner name, owner public)
    closes = {-1: len(code)}  # owner body `{` offset -> its `}` offset
    stack = [("<top>", -1, 0, True)]  # (owner, body offset, depth, public)
    depth = 0
    for i, c in enumerate(code):
        m = heads.get(i)
        if m is not None:
            mods, kind, name = m.group(1), m.group(2), m.group(3)
            owner, body, body_depth, owner_public = stack[-1]
            is_member = depth == body_depth
            public = owner_public and not re.search(r"\b(private|protected)\b", mods)
            if is_member:
                found.append({
                    "path": path, "owner": owner, "body": body, "kind": kind,
                    "name": name, "public": public, "override": "override" in mods,
                    "start": m.start(), "name_at": m.start(3)})
            if kind in ("object", "class", "trait"):
                b = body_open(code, m.end())
                if b is not None:
                    opens[b] = (name, public and is_member)
        if c == "{":
            depth += 1
            if i in opens:
                stack.append((opens[i][0], i, depth, opens[i][1]))
        elif c == "}":
            if len(stack) > 1 and stack[-1][2] == depth:
                closes[stack.pop()[1]] = i
            depth -= 1
    by_owner = {}
    for d in found:
        by_owner.setdefault(d["body"], []).append(d)
    for body, ds in by_owner.items():
        for d, nxt in zip(ds, ds[1:] + [None]):
            d["end"] = nxt["start"] if nxt else closes.get(body, len(code))
    return found


def main():
    if len(sys.argv) > 2:
        print(__doc__, file=sys.stderr)
        return 2
    root = sys.argv[1] if len(sys.argv) == 2 else "."
    main_files = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    bench_files = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main_files:
        print(f"no Scala sources under {root}/src/main", file=sys.stderr)
        return 2

    env_reads = []  # (path, line, token) outside ENV_READERS
    codegen_loops = []  # (path, line) of a loop inside a kernel's doGenCode
    decls = []
    uses = {}  # name -> [index of the innermost enclosing member, or None]
    for path in main_files + bench_files:
        raw = open(path, encoding="utf-8").read()
        code = strip_comments(raw)
        stem = os.path.splitext(os.path.basename(path))[0]
        if path in main_files and stem not in ENV_READERS:
            env_reads += [(os.path.relpath(path, root), code.count("\n", 0, m.start()) + 1,
                           m.group()) for m in ENV_RE.finditer(code)]
        ds = members(path, strip_comments(raw, mask_strings=True)) if path in main_files else []
        if os.path.relpath(os.path.dirname(path), root) == KERNEL_DIR:
            for d in ds:
                if d["kind"] == "def" and d["name"] == "doGenCode":
                    codegen_loops += [(os.path.relpath(path, root), code.count("\n", 0, m.start()) + 1)
                                      for m in LOOP_RE.finditer(code, d["start"], d["end"])]
        base = len(decls)
        decls += ds
        # innermost member per offset: a nested member starts after, and
        # ends before, its owner, so later (inner) spans overwrite
        owner_at = [None] * len(code)
        for k, d in enumerate(ds):
            owner_at[d["start"]:d["end"]] = [base + k] * (d["end"] - d["start"])
        def_sites = {d["name_at"] for d in ds}
        for m in WORD_RE.finditer(code):
            if m.start() not in def_sites:
                uses.setdefault(m.group(), []).append(owner_at[m.start()])

    def label(d):
        return d["name"] if d["owner"] == "<top>" else f"{d['owner']}.{d['name']}"

    mains = {d["owner"] for d in decls if d["kind"] == "def" and d["name"] == "main"}
    candidates = [
        k for k, d in enumerate(decls)
        if d["kind"] in ("def", "object") and not d["override"]
        and d["name"] not in ALWAYS_LIVE and d["name"] not in mains
        and label(d) not in ENTRY_POINTS]
    dead = set()
    changed = True
    while changed:
        changed = False
        for k in candidates:
            if k not in dead and all(
                    u is not None and (u == k or u in dead)
                    for u in uses.get(decls[k]["name"], [])):
                dead.add(k)
                changed = True

    unreached = sorted({label(decls[k]) for k in dead if decls[k]["public"]})
    bad = [u for u in unreached if u not in ALLOWLIST]
    stale = sorted(set(ALLOWLIST) - set(unreached))
    for u in unreached:
        note = ALLOWLIST.get(u)
        print(f"allowed    {u}  ({note})" if note else f"UNREACHED  {u}")
    for s in stale:
        print(f"STALE      {s}: reached now, drop it from ALLOWLIST")
    for path, line, token in env_reads:
        print(f"ENV        {path}:{line}: reads `{token}`; only {', '.join(sorted(ENV_READERS))} may")
    for path, line in codegen_loops:
        print(f"LOOP       {path}:{line}: doGenCode holds a loop; move it into a "
              f"companion method that eval and the generated code both call")
    print(f"{len(unreached)} unreached public members, {len(bad)} outside the allowlist, "
          f"{len(stale)} stale allowlist entries, {len(env_reads)} environment reads "
          f"outside the harness mains, {len(codegen_loops)} loops in kernel codegen")
    return 1 if bad or stale or env_reads or codegen_loops else 0


if __name__ == "__main__":
    sys.exit(main())
