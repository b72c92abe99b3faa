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
  ONE-VALUE  Owner.member(param): a parameter every program call gives one
             value, so it is a constant, not an option. Each call's
             arguments are read from the bytecode before it (read_args): a
             primitive parameter is reported when every call passes the
             same known value, a parameter of any type when every call
             leaves it at its default (`member$default$N`). Calls resolve
             to the overload whose descriptor they name. Calls from the
             method's own static forwarder do not count; tests are not
             compiled here, so they never count. A method named in a
             string of reached code (generated Java calls it) is skipped.

It also checks that only the harness mains read the environment: outside
comments, `SPARK_GRAFT_`, `sys.env`, `System.getenv` and
`Harness.envPositiveLong` may appear only in the files of ENV_READERS.
Operator code decides from its inputs and the session alone.

And it checks that each native kernel under KERNEL_DIR holds its algorithm
once: a `doGenCode` body there may not contain a loop (`for (`,
`while (`, `do {`, in Scala or in the generated Java text). The loop
belongs in a companion-object method that `eval` and the generated code
both call.

The last line counts the findings, and the `src/main` files and their
non-blank lines outside comments (after strip_comments).

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
FIELD_RE = re.compile(r"(?:get|put)(?:static|field)\s+#\d+\s+// Field (?:([\w/$]+)\.)?")
STRING_RE = re.compile(r"\bldc(?:_w)?\s+#\d+\s+// String (.*)$")
QUALIFIED_RE = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*\(")
DESC_RE = re.compile(r"\[*(?:[BCDFIJSZ]|L[^;]+;)")
PLAIN_NAME = re.compile(r"^[A-Za-z_]\w*$")
INSN_RE = re.compile(r"^(\d+): (\w+)\s*(.*)$")
CASE_RE = re.compile(r"^(?:-?\d+|default): (\d+)$")
METHOD_REF = re.compile(r"// (?:Interface)?Method (?:([\w/$]+)\.)?(\"<init>\"|[\w$]+):(\S+)")
DESC_TAIL = re.compile(r":(\([^)]*\)\S*)\s*$")
LDC_RE = re.compile(r"// (int|long|float|double|String) (.*)$")
LOAD_RE = re.compile(r"^[ilfda]load(?:_(\d))?$")
STORE_RE = re.compile(r"^[ilfda]store(?:_(\d))?$")
PRIMITIVE = set("IJDFZSBC")
CONST_OPS = {"iconst_m1": "-1", "lconst_0": "0", "lconst_1": "1", "fconst_0": "0.0",
             "fconst_1": "1.0", "fconst_2": "2.0", "dconst_0": "0.0", "dconst_1": "1.0",
             **{f"iconst_{k}": str(k) for k in range(6)}}
# Stack effect, in values, of the instructions other than invokes.
STACK_EFFECTS = [(re.compile(p), e) for p, e in [
    (r"^(?:[ilfda]load(?:_\d)?|[ilfd]const_m?\d|aconst_null|[bs]ipush|ldc(?:_w|2_w)?"
     r"|getstatic|new|dup)$", (0, 1)),
    (r"^(?:[ilfda]store(?:_\d)?|pop|if(?:eq|ne|lt|ge|gt|le|null|nonnull)|tableswitch"
     r"|lookupswitch|putstatic|monitorenter|monitorexit|[ilfda]return|athrow)$", (1, 0)),
    (r"^(?:if_[ia]cmp\w+|putfield)$", (2, 0)),
    (r"^[ilfdabcs]astore$", (3, 0)),
    (r"^(?:[ilfd](?:add|sub|mul|div|rem|and|or|xor|shl|shr|ushr)|lcmp|[fd]cmp[lg]"
     r"|[ilfdabcs]aload)$", (2, 1)),
    (r"^(?:[ilfd]neg|[ilfd]2[ilfdbcs]|getfield|checkcast|instanceof|arraylength|newarray"
     r"|anewarray)$", (1, 1)),
    (r"^(?:goto(?:_w)?|iinc|nop|return)$", (0, 0)),
]]


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
    records its flags, strings, parameter names, instructions (`code`:
    (opcode, operand text), at `offsets`), its calls (`calls`: index in
    `code` -> (owner, name, descriptor)) and the offsets a jump or an
    exception handler enters (`targets`)."""
    classes, cls, meth, mode = {}, None, None, None
    for line in text.split("\n"):
        if not line.startswith(" "):
            m = CLASS_RE.match(strip_generics(line))
            if m:
                name = m.group(2).replace(".", "/")
                supers = [s.strip().replace(".", "/") for part in (m.group(3), m.group(4))
                          if part for s in part.split(",")]
                cls = classes[name] = {"supers": supers, "methods": {}, "fields": set()}
                owner = name
                meth = None
            continue
        if cls is None:
            continue
        if line.startswith("  ") and not line.startswith("   "):
            head = strip_generics(line.strip())
            meth, mode = None, None
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
                meth.update(owner=owner, calls={}, fields=[], strings=[], lvt={}, desc=None,
                            ops=0, code=[], offsets=[], targets=set())
            continue
        if meth is None:
            continue
        s = line.strip()
        if meth["desc"] is None and s.startswith("descriptor: "):
            meth["desc"] = s[len("descriptor: "):]
            cls["methods"][(meth["name"], meth["desc"])] = meth
        elif s in ("LocalVariableTable:", "Exception table:", "LineNumberTable:"):
            mode = s
        elif mode == "LocalVariableTable:":
            f = s.split()
            if len(f) == 5 and f[0] == "0" and f[2].isdigit():
                meth["lvt"][int(f[2])] = f[3]
        elif mode == "Exception table:":
            f = s.split()
            if len(f) >= 4 and f[2].isdigit():
                meth["targets"].add(int(f[2]))
        elif mode == "switch":
            m = CASE_RE.match(s)
            if m:
                meth["targets"].add(int(m.group(1)))
            elif s == "}":
                mode = None
        elif mode is None:
            insn = INSN_RE.match(s)
            if not insn:
                continue
            op, arg = insn.group(2), insn.group(3)
            meth["ops"] += 1
            meth["offsets"].append(int(insn.group(1)))
            meth["code"].append((op, arg))
            if op in ("tableswitch", "lookupswitch"):
                mode = "switch"
            elif op.startswith(("if", "goto", "jsr")) and arg.isdigit():
                meth["targets"].add(int(arg))
            m = METHOD_REF.search(arg) if op.startswith("invoke") else None
            if m:
                meth["calls"][len(meth["code"]) - 1] = (m.group(1), m.group(2).strip('"'), m.group(3))
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


def constant(op, arg):
    """The value a constant push puts on the stack, as text, or None."""
    if op in CONST_OPS:
        return CONST_OPS[op]
    if op in ("bipush", "sipush"):
        return arg.strip()
    m = LDC_RE.search(arg) if op.startswith("ldc") else None
    if not m:
        return None
    return m.group(2)[:-1] if m.group(1) in ("long", "float", "double") else m.group(2)


def effect(op, arg):
    """(values popped, values pushed) of one instruction, or None for one
    the reader does not model. A `dup` counts as pushing a new value."""
    if op.startswith("invoke"):
        d = DESC_TAIL.search(arg)
        if not d:
            return None
        own = op not in ("invokestatic", "invokedynamic")
        return len(param_types(d.group(1))) + own, int(not d.group(1).endswith(")V"))
    for pattern, e in STACK_EFFECTS:
        if pattern.match(op):
            return e
    return None


def read_args(classes, meth, i, n, resolve):
    """The arguments of the call `meth["code"][i]` that takes n values:
    each a (value text, passed by its default accessor) pair, or None when
    it is not read exactly. The walk goes back from the call over
    straight-line code; the producer of an argument is the last
    instruction that wrote its stack slot. Known producers: a constant
    push, a load of a local that a constant was stored into on the same
    straight line, and a call of a `m$default$N` accessor."""
    code, offsets = meth["code"], meth["offsets"]
    targets = meth["targets"]

    def straight(a, b):
        """No jump or handler enters an instruction in (a, b]."""
        return not any(offsets[k] in targets for k in range(a + 1, b + 1))

    def value(j, depth=0):
        op, arg = code[j]
        c = constant(op, arg)
        if c is not None:
            return c, False
        load = LOAD_RE.match(op)
        if load and depth == 0:
            slot = load.group(1) or arg.strip()
            for k in range(j - 1, 0, -1):
                sop, sarg = code[k]
                store = STORE_RE.match(sop)
                if store and (store.group(1) or sarg.strip()) == slot:
                    return value(k - 1, 1) if straight(k - 1, j) else None
                if sop == "iinc" and sarg.split(",")[0] == slot:
                    return None
            return None
        owner, name, desc = meth["calls"].get(j, (None, "", ""))
        if re.search(r"\$default\$\d+$", name) and desc.startswith("()"):
            hits = resolve(owner or meth["owner"], name, desc)
            body = classes[hits[0][0]]["methods"][hits[0][1:]]["code"] if hits else []
            c = constant(*body[0]) if len(body) == 2 else None
            return (c if c is not None else f"{name}()"), True
        return None

    args, want, h, j = [None] * n, {-k: n - 1 - k for k in range(n)}, 0, i
    while want and j > 0 and offsets[j] not in targets:
        j -= 1
        e = effect(*code[j])
        if e is None:
            break
        for level in range(h - e[1] + 1, h + 1):
            if level in want:
                args[want.pop(level)] = value(j)
        h += e[0] - e[1]
    return args


def analyse(classes, spark_jars):
    """(unreached labels, {one-valued "Owner.m(param)": (calls, (value,
    by default))}) of the program."""
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

    roots, overrides = [], set()
    for c, info in classes.items():
        bench = c.startswith(BENCH_PACKAGES)
        case_class = ("productArity", "()I") in info["methods"]
        ext = any(s not in classes for s in supertypes(c))
        for (name, desc), m in info["methods"].items():
            if ext and not m["static"] and (name, len(param_types(desc))) in overridable:
                overrides.add((c, name, desc))
            if (bench or case_class or name in ALWAYS_LIVE or (c, name, desc) in overrides
                    or f"{owner_label(c)}.{name}" in ENTRY_POINTS):
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
        for owner, callee, cdesc in m["calls"].values():
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

    # Argument values: every call of a program method from reached code,
    # except a static forwarder's call of its module method, with the
    # values it passes. A method that generated Java names in a string
    # gets arguments this pass cannot read, so it is never reported.
    calls_at, named = {}, set()
    for caller in reached:
        m = classes[caller[0]]["methods"][caller[1:]]
        for s in m["strings"]:
            named.update(QUALIFIED_RE.findall(s))
        for i, (owner, callee, cdesc) in m["calls"].items():
            owner = owner or caller[0]
            if m["static"] and owner == caller[0] + "$" and callee == caller[1]:
                continue
            hits = resolve(owner, callee, cdesc)
            if hits:
                args = read_args(classes, m, i, len(param_types(cdesc)), resolve)
                for h in hits:
                    calls_at.setdefault(h, []).append(args)

    # A primitive parameter that every call passes one known value, or a
    # parameter of any type that every call leaves at its default.
    one_valued = {}
    for (c, name, desc), calls in calls_at.items():
        label = owner_label(c)
        if (not PLAIN_NAME.match(name) or name in NO_PARAM_CHECK or (label, name) in named
                or (c, name, desc) in overrides or c.startswith(BENCH_PACKAGES)):
            continue
        names = param_names(classes[c]["methods"][(name, desc)])
        for k, t in enumerate(param_types(desc)):
            vals = [a[k] for a in calls]
            if None in vals or len({v for v, _ in vals}) != 1:
                continue
            if t in PRIMITIVE or all(d for _, d in vals):
                v, by_default = vals[0]
                v = {"0": "false", "1": "true"}.get(v, v) if t == "Z" else v
                one_valued[f"{label}.{name}({names[k]})"] = (len(vals), (v, by_default))
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

    lines = 0  # non-blank, non-comment lines of src/main
    env_reads = []  # (path, line, token) outside ENV_READERS
    codegen_loops = []  # (path, line) of a loop inside a kernel's doGenCode
    for path in main_files:
        code = strip_comments(open(path, encoding="utf-8").read())
        lines += sum(1 for ln in code.split("\n") if ln.strip())
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
            n, (v, by_default) = one_valued[f]
            how = f"leave it at its default {v}" if by_default else f"pass {v}"
            print(f"ONE-VALUE  {f}: all {n} program calls {how}; make it a constant")
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
          f"{len(codegen_loops)} loops in kernel codegen; src/main: {len(main_files)} files, "
          f"{lines} non-blank non-comment lines")
    return 1 if bad or stale or env_reads or codegen_loops else 0


if __name__ == "__main__":
    sys.exit(main())
