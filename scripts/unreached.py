#!/usr/bin/env python3
"""List what the program never reaches and the options it uses with one value.

Usage: python3 scripts/unreached.py [repo_root]

Reads the compiled classes of `src/main` and perfbench with `javap -c -p
-l -s` and builds a call graph from them. perfbench's build compiles
`../src/main/scala` beside its own sources, so one directory, CLASSES,
holds both; build it first with BUILD. SPARK_HOME must name the Spark 4
install that build uses: its jars hold the supertypes outside the program.

Roots are the `main` methods, ENTRY_POINTS and every perfbench method.
Reached too: a method that overrides one of a supertype outside the
program (Spark and the JDK call those), every member of a case class, a
method named `Owner.member` in a string constant of reached code (the
generated Java of a kernel calls its companion that way), and the lambda
bodies (`$anonfun$m$...`) of a reached method `m`. An `invoke*` reaches
the method it names and the overrides of it in program subclasses; a call
javap prints without an owner is a call to the class it sits in. Reached
code that calls into a class or touches one of its fields runs its static
initializer, which reaches the lambdas of the class's `val`s. `val`
accessors are live code, never reported.

Two reports:
  UNREACHED  Owner.member: a public method of `src/main` no root reaches
             (its static forwarder and its overloads count as one).
  ONE-VALUE  Owner.member(param): a defaulted parameter that every program
             call leaves at its default (each call of `member` also calls
             `member$default$N`), so it is a constant, not an option. Calls
             from the method's own static forwarder do not count; tests
             are not compiled here, so they never count.

It also checks that only the harness mains read the environment: outside
comments, `SPARK_GRAFT_`, `sys.env`, `System.getenv` and
`Harness.envPositiveLong` may appear only in the files of ENV_READERS.
Operator code decides from its inputs and the session alone.

And it checks that each native kernel under KERNEL_DIR holds its algorithm
once: a `doGenCode` body there may not contain a loop (`for (`,
`while (`, `do {`, in Scala or in the generated Java text). The loop
belongs in a companion-object method that `eval` and the generated code
both call.

Exit status: 0 when every finding is in ALLOWLIST, no file outside
ENV_READERS reads the environment and no kernel `doGenCode` holds a loop;
1 when a finding is outside the allowlist, an allowlist entry matches
nothing (drop it), another file reads the environment, or a `doGenCode`
holds a loop; 2 on a usage error, when SPARK_HOME is unset, or when the
classes are missing or older than their sources.
"""
import glob
import os
import re
import subprocess
import sys

# Owner.member, or Owner.member(param) -> why it stays although the
# program never reaches it, or never sets it.
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
    "MilanPipeline.loadTraffic(pattern)":
        "file glob of the drop directory: a deployment setting, not an engine option",
    "MilanPipeline.loadMobility(pattern)":
        "file glob of the drop directory: a deployment setting, not an engine option",
}

# Called from outside the program, like a `main`.
ENTRY_POINTS = {
    "SparkEntry.entry",  # the flagship frame a spark-shell session asks for
}

CLASSES = os.path.join("perfbench", "target", "scala-2.13", "classes")
BUILD = "(cd perfbench && sbt -batch compile)"
SOURCES = ("src/main/**/*.scala", "perfbench/src/**/*.scala")
# Classes of perfbench itself: all of it is a root.
BENCH_PACKAGES = ("perfbench/", "org/apache/spark/perfbench/")

# The only `src/main` files that may read the environment: the harness
# mains and their shared plumbing.
ENV_READERS = {"Harness", "Bench", "Verify", "Explain", "ScaleUp", "MilanApp", "MilanE2E"}
ENV_RE = re.compile(r"SPARK_GRAFT_|\bsys\.env\b|\bSystem\.getenv\b|\bHarness\.envPositiveLong\b")

# Native kernels: their `doGenCode` emits a call, never a loop.
KERNEL_DIR = os.path.join("src", "main", "scala", "graft", "plans")
LOOP_RE = re.compile(r"\b(?:for|while)\s*\(|\bdo\s*\{")

ALWAYS_LIVE = {"main", "apply", "unapply", "toString", "equals", "hashCode", "readResolve",
               "writeReplace", "$deserializeLambda$"}
# Compiler-written methods whose defaults say nothing about an option.
NO_PARAM_CHECK = {"copy", "apply", "<init>"}

CLASS_RE = re.compile(r"^(?:[a-z]+ )*(class|interface) ([\w.$]+)(?: extends ([^{]*?))?"
                      r"(?: implements ([^{]*))? \{$")
INVOKE_RE = re.compile(r"invoke\w+\s+#\d+(?:,\s+\d+)?\s+// (?:Interface)?Method "
                       r"(?:([\w/$]+)\.)?(\"<init>\"|[\w$]+):(\S+)")
FIELD_RE = re.compile(r"(?:get|put)(?:static|field)\s+#\d+\s+// Field (?:([\w/$]+)\.)?")
STRING_RE = re.compile(r"\bldc(?:_w)?\s+#\d+\s+// String (.*)$")
QUALIFIED_RE = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\(")
DESC_RE = re.compile(r"\[*(?:[BCDFIJSZ]|L[^;]+;)")
PLAIN_NAME = re.compile(r"^[A-Za-z_]\w*$")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping newlines, so a
    `//` inside a string is never taken for a comment."""
    out = []
    i, n = 0, len(src)
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
        out.append(src[i:j])
        i = j
    return "".join(out)


def doGenCode_loops(code):
    """Line numbers of loops inside `def doGenCode` bodies of one
    comment-stripped file: a body runs until the next non-blank line
    indented no deeper than its `def`."""
    lines = code.split("\n")
    hits, body_indent = [], None
    for no, line in enumerate(lines, 1):
        indent = len(line) - len(line.lstrip())
        if body_indent is not None and line.strip() and indent <= body_indent:
            body_indent = None
        if body_indent is None and re.search(r"\bdef\s+doGenCode\b", line):
            body_indent = indent
        if body_indent is not None and LOOP_RE.search(line):
            hits.append(no)
    return hits


def strip_generics(s):
    while "<" in s:
        s = re.sub(r"<[^<>]*>", "", s)
    return s


def parse_javap(text):
    """Classes of a `javap -c -p -l -s` listing: internal name ->
    {"supers": [...], "methods": {(name, desc): method}}; each method
    records its flags, calls, strings and parameter names."""
    classes, cls, meth, in_lvt = {}, None, None, False
    for line in text.split("\n"):
        if not line.startswith(" "):
            m = CLASS_RE.match(strip_generics(line))
            if m:
                name = m.group(2).replace(".", "/")
                supers = [s.strip().replace(".", "/") for part in (m.group(3), m.group(4))
                          if part for s in part.split(",")]
                cls = classes[name] = {"supers": supers, "methods": {}, "fields": set()}
                meth = None
            continue
        if cls is None:
            continue
        if line.startswith("  ") and not line.startswith("   "):
            head = strip_generics(line.strip())
            meth, in_lvt = None, False
            if head.endswith("static {};"):
                meth = {"name": "<clinit>", "static": True}
            elif "(" in head and head.endswith(";"):
                name = re.search(r"([\w$.]+)\(", head).group(1)
                words = head[:head.index("(")].split()
                meth = {"name": "<init>" if "." in name else name,
                        "static": "static" in words, "public": "public" in words}
            elif head.endswith(";"):
                cls["fields"].add(head[:-1].split()[-1])
            if meth is not None:
                meth.update(calls=[], fields=[], strings=[], lvt={}, desc=None, ops=0)
            continue
        if meth is None:
            continue
        s = line.strip()
        if meth["desc"] is None and s.startswith("descriptor: "):
            meth["desc"] = s[len("descriptor: "):]
            cls["methods"][(meth["name"], meth["desc"])] = meth
        elif s == "LocalVariableTable:":
            in_lvt = True
        elif in_lvt:
            f = s.split()
            if len(f) == 5 and f[0] == "0" and f[2].isdigit():
                meth["lvt"][int(f[2])] = f[3]
        else:
            meth["ops"] += bool(re.match(r"\d+: ", s))
            m = INVOKE_RE.search(s)
            if m:
                meth["calls"].append((m.group(1), m.group(2).strip('"'), m.group(3)))
                continue
            m = FIELD_RE.search(s)
            if m:
                meth["fields"].append(m.group(1))
                continue
            m = STRING_RE.search(s)
            if m:
                meth["strings"].append(m.group(1))
    return classes


def param_types(desc):
    return DESC_RE.findall(desc[1:desc.index(")")])


def param_names(meth):
    """Source names of a method's parameters, from its local variable
    table (a long or double takes two slots)."""
    slot, names = 0 if meth["static"] else 1, []
    for t in param_types(meth["desc"]):
        names.append(meth["lvt"].get(slot, f"arg{len(names) + 1}"))
        slot += 2 if t in ("J", "D") else 1
    return names


def owner_label(internal):
    """`graft/operators/Cleaning$` -> `Cleaning`; `a/B$C$` -> `C`."""
    return internal.rsplit("/", 1)[-1].rstrip("$").rsplit("$", 1)[-1]


def external_methods(names, spark_jars):
    """(name, arity) pairs declared by the named classes outside the
    program and by all their supertypes, read with javap from the Spark
    jars and the JDK."""
    seen, todo, declared = set(), set(names), set()
    while todo:
        batch = sorted(todo)
        seen |= todo
        out = subprocess.run(["javap", "-p", "-s", "-cp", spark_jars] + [b.replace("/", ".") for b in batch],
                             capture_output=True, text=True).stdout
        todo = set()
        for cname, c in parse_javap(out).items():
            declared |= {(n, len(param_types(d))) for n, d in c["methods"]}
            todo |= set(c["supers"]) - seen
    return declared


def load(root):
    """The parsed program classes, or an error message."""
    class_dir = os.path.join(root, CLASSES)
    files = sorted(glob.glob(os.path.join(class_dir, "**", "*.class"), recursive=True))
    sources = [p for pat in SOURCES for p in glob.glob(os.path.join(root, pat), recursive=True)]
    if not files:
        return None, f"no compiled classes under {CLASSES}; build them: {BUILD}"
    if max(map(os.path.getmtime, sources)) > max(map(os.path.getmtime, files)):
        return None, f"the classes under {CLASSES} are older than their sources; rebuild: {BUILD}"
    out = subprocess.run(["javap", "-c", "-p", "-l", "-s"] + files,
                         capture_output=True, text=True, check=True).stdout
    return parse_javap(out), None


def analyse(classes, spark_jars):
    """(unreached labels, {one-valued "Owner.m(param)"}) of the program."""
    subs = {}
    for c, info in classes.items():
        for s in info["supers"]:
            subs.setdefault(s, set()).add(c)
    external = {s for info in classes.values() for s in info["supers"] if s not in classes}
    overridable = external_methods(external, spark_jars)

    def supertypes(c):
        todo, out = [c], []
        while todo:
            for s in classes.get(todo.pop(), {}).get("supers", []):
                if s not in out:
                    out.append(s)
                    todo.append(s)
        return out

    def subtypes(c):
        todo, out = [c], {c}
        while todo:
            for s in subs.get(todo.pop(), ()):
                if s not in out:
                    out.add(s)
                    todo.append(s)
        return out

    def resolve(owner, name, desc):
        """Program methods an invoke of owner.name:desc may run."""
        if owner not in classes:
            return []
        for c in [owner] + supertypes(owner):
            if (name, desc) in classes.get(c, {}).get("methods", {}):
                hit = [(c, name, desc)]
                break
        else:
            return []
        return hit + [(s, name, desc) for s in subtypes(owner)
                      if s != hit[0][0] and (name, desc) in classes[s]["methods"]]

    by_label = {}
    for c, info in classes.items():
        by_label.setdefault(owner_label(c), []).append(c)

    roots = []
    for c, info in classes.items():
        bench = c.startswith(BENCH_PACKAGES)
        case_class = ("productArity", "()I") in info["methods"]
        ext = any(s not in classes for s in supertypes(c))
        for (name, desc), m in info["methods"].items():
            if (bench or case_class or name in ALWAYS_LIVE
                    or f"{owner_label(c)}.{name}" in ENTRY_POINTS
                    or (ext and not m["static"] and (name, len(param_types(desc))) in overridable)):
                roots.append((c, name, desc))

    reached, todo = set(), list(roots)
    while todo:
        node = todo.pop()
        if node in reached:
            continue
        reached.add(node)
        c, name, desc = node
        info = classes[c]
        m = info["methods"][node[1:]]
        nxt = [("<clinit>", "()V")] if ("<clinit>", "()V") in info["methods"] else []
        # Lambdas are named after the method, or the val, that makes them.
        made = ({"new"} | info["fields"]) if name in ("<init>", "<clinit>") else {name}
        nxt += [k for k in info["methods"]
                if k[0].startswith("$anonfun$") and k[0][9:].split("$", 1)[0] in made]
        todo += [(c,) + k for k in nxt]
        for owner, callee, cdesc in m["calls"]:
            todo += resolve(owner or c, callee, cdesc)
        for owner in m["fields"]:  # touching a class runs its initializer
            if ("<clinit>", "()V") in classes.get(owner or c, {}).get("methods", {}):
                todo.append((owner or c, "<clinit>", "()V"))
        for s in m["strings"]:
            for label, member in QUALIFIED_RE.findall(s):
                for oc in by_label.get(label, ()):
                    todo += [(oc,) + k for k in classes[oc]["methods"] if k[0] == member]

    # A method is reached through any of its overloads or its forwarder.
    # A `val` or `var` accessor is live code: its initializer runs anyway,
    # and scalac inlines a constant `final val` at its uses. A static
    # forwarder is its module method.
    vals = {}
    for c, info in classes.items():
        vals.setdefault(owner_label(c), set()).update(info["fields"])
    labels = {}
    for c, info in classes.items():
        if c.startswith(BENCH_PACKAGES) or "$$" in c or "$anon" in c:
            continue
        for (name, desc), m in info["methods"].items():
            if (m.get("public") and PLAIN_NAME.match(name) and name not in ALWAYS_LIVE
                    and not (desc.startswith("()") and (name in vals[owner_label(c)]
                                                        or (m["ops"] <= 2 and not m["calls"])))
                    and not (m["static"] and c + "$" in classes)):
                key = f"{owner_label(c)}.{name}"
                labels[key] = labels.get(key, False) or (c, name, desc) in reached
    unreached = sorted(k for k, hit in labels.items() if not hit)

    # Defaulted parameters: a reached caller that calls m more often than
    # m$default$N passes parameter N itself at least once.
    sites = {}  # (owner, name) -> {caller: [descriptor of each call]}
    for caller in reached:
        for o, nm, d in classes[caller[0]]["methods"][caller[1:]]["calls"]:
            sites.setdefault((o or caller[0], nm), {}).setdefault(caller, []).append(d)
    one_valued = {}
    for c, info in classes.items():
        owners = {c, c.rstrip("$")} | subtypes(c)

        def calls_of(nm):
            out = {}
            for o in owners:
                for caller, ds in sites.get((o, nm), {}).items():
                    if caller[0] + "$" != c or caller[1] != nm:  # not its static forwarder
                        out.setdefault(caller, []).extend(ds)
            return out

        for (name, desc), m in info["methods"].items():
            g = re.match(r"^(.*)\$default\$(\d+)$", name)
            if not g or g.group(1) in NO_PARAM_CHECK:
                continue
            target, n = g.group(1), int(g.group(2))
            alts = [(d, mm) for (nm, d), mm in info["methods"].items()
                    if nm == target and len(param_types(d)) >= n
                    and param_types(d)[n - 1] == desc[desc.index(")") + 1:]]
            if len(alts) != 1:
                continue
            tdesc, tm = alts[0]
            calls = {k: ds.count(tdesc) for k, ds in calls_of(target).items()}
            defaults = {k: len(ds) for k, ds in calls_of(name).items()}
            if sum(calls.values()) and all(defaults.get(k, 0) >= v for k, v in calls.items()):
                one_valued[f"{owner_label(c)}.{target}({param_names(tm)[n - 1]})"] = sum(calls.values())
    return unreached, one_valued


def main():
    if len(sys.argv) > 2:
        print(__doc__, file=sys.stderr)
        return 2
    root = sys.argv[1] if len(sys.argv) == 2 else "."
    main_files = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    if not main_files:
        print(f"no Scala sources under {root}/src/main", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        print("SPARK_HOME must name a Spark 4 install (perfbench's build reads it too)",
              file=sys.stderr)
        return 2
    classes, err = load(root)
    if err:
        print(err, file=sys.stderr)
        return 2

    env_reads = []  # (path, line, token) outside ENV_READERS
    codegen_loops = []  # (path, line) of a loop inside a kernel's doGenCode
    for path in main_files:
        code = strip_comments(open(path, encoding="utf-8").read())
        rel = os.path.relpath(path, root)
        if os.path.splitext(os.path.basename(path))[0] not in ENV_READERS:
            env_reads += [(rel, code.count("\n", 0, m.start()) + 1, m.group())
                          for m in ENV_RE.finditer(code)]
        if os.path.dirname(rel) == KERNEL_DIR:
            codegen_loops += [(rel, no) for no in doGenCode_loops(code)]

    unreached, one_valued = analyse(classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*"))
    findings = unreached + sorted(one_valued)
    bad = [f for f in findings if f not in ALLOWLIST]
    stale = sorted(set(ALLOWLIST) - set(findings))
    for f in findings:
        note = ALLOWLIST.get(f)
        if note:
            print(f"allowed    {f}  ({note})")
        elif f in one_valued:
            print(f"ONE-VALUE  {f}: all {one_valued[f]} program calls leave it at its default; "
                  f"make it a constant")
        else:
            print(f"UNREACHED  {f}")
    for s in stale:
        print(f"STALE      {s}: no longer found, drop it from ALLOWLIST")
    for path, line, token in env_reads:
        print(f"ENV        {path}:{line}: reads `{token}`; only {', '.join(sorted(ENV_READERS))} may")
    for path, line in codegen_loops:
        print(f"LOOP       {path}:{line}: doGenCode holds a loop; move it into a "
              f"companion method that eval and the generated code both call")
    print(f"{len(unreached)} unreached public members, {len(one_valued)} one-valued parameters, "
          f"{len(bad)} outside the allowlist, {len(stale)} stale allowlist entries, "
          f"{len(env_reads)} environment reads outside the harness mains, "
          f"{len(codegen_loops)} loops in kernel codegen")
    return 1 if bad or stale or env_reads or codegen_loops else 0


if __name__ == "__main__":
    sys.exit(main())
