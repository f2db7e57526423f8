#!/usr/bin/env python3
"""Report the defs of graft objects that no entry point reaches.

Builds a method-level call graph from the compiled classes with
`javap -c -p` and walks it from the entry points:

  - every `main` method;
  - `graft.SparkEntry.queries`, `entry` and `oracleSql`;
  - the graft members that the benchmark sources under `perfbench/src`
    name (`Obj.member` for an imported or fully qualified graft object).

Edges, deliberately conservative (an over-approximation of what runs):

  - a static or special call reaches its target;
  - a virtual or interface call reaches every graft method of that name,
    whatever its owner (dispatch through traits and Spark interfaces);
  - reaching a constructor of a class (not an object) reaches all of that
    class's methods and those of its graft supertypes: Spark calls Catalyst
    expressions, rules and listeners through its own interfaces;
  - reading an object's `MODULE$` runs its initializer;
  - a lambda body `$anonfun$<m>$N` follows its enclosing method `m`
    (`$anonfun$new$N` and `$anonfun$<val>$N` follow the initializer);
  - a string constant of the form `graft.pkg.Obj.method(` reaches that
    method: codegen'd Java calls kernels by name.

Prints every unreached def of a graft object, leaving out val and lazy val
accessors, compiler synthetics, case-class companion and case-object
methods and forwarders to inherited trait methods, and exits
non-zero if one is not listed in the allowlist. Each allowlist line is
`graft.pkg.Obj.member  # reason`; a line without a reason, or one that
names a member that is reached or gone, is an error too.

Usage (after `sbt compile`):
    python3 tools/reachability.py [--classes DIR] [--allow FILE]
"""
import argparse
import os
import re
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

METHOD_REF = re.compile(
    r"//\s+(?:Method|InterfaceMethod)\s+(?:([\w/$]+)\.)?([\w$<>]+):")
FIELD_REF = re.compile(r"//\s+Field\s+(?:([\w/$]+)\.)?([\w$]+):")
CLASS_REF = re.compile(r"//\s+class\s+([\w/$]+)")
STRING_REF = re.compile(r"//\s+String\s+(.*)$")
CODEGEN_CALL = re.compile(r"\b(graft(?:\.\w+)+)\.(\w+)\(")
CASE_COMPANION = {"apply", "unapply", "unapplySeq", "toString", "tupled",
                  "curried"}
CASE_OBJECT = {"productArity", "productElement", "productElementName",
               "productIterator", "productPrefix", "canEqual", "equals",
               "hashCode", "toString"}
SERIAL = {"readResolve", "writeReplace", "$deserializeLambda$"}


def javap(classes_dir):
    files = []
    for d, _, names in os.walk(classes_dir):
        files += [os.path.join(d, n) for n in names if n.endswith(".class")]
    files.sort()
    out = []
    for i in range(0, len(files), 400):
        r = subprocess.run(["javap", "-c", "-p"] + files[i:i + 400],
                           capture_output=True, text=True, check=True)
        out.append(r.stdout)
    return "\n".join(out)


def demangle(name):
    # private members reached from lambdas compile to `pkg$Obj$$name`
    return name.rsplit("$$", 1)[-1] if "$$" in name else name


class Graph:
    def __init__(self, text):
        self.methods = defaultdict(list)   # (cls, name) -> body lines
        self.by_name = defaultdict(set)    # name -> {cls}
        self.fields = defaultdict(set)     # cls -> {field name}
        self.supers = {}                   # cls -> [graft supertypes]
        self.modules = set()
        cls, cur = None, None
        for line in text.split("\n"):
            if not line.startswith(" ") and line.rstrip().endswith("{"):
                m = re.search(r"(?:class|interface)\s+([\w.$]+)(.*)\{",
                              line)
                if m:
                    cls = m.group(1)
                    self.supers[cls] = re.findall(r"\b(graft\.[\w.$]+)",
                                                  m.group(2))
                    cur = None
                continue
            if cls is None:
                continue
            if line.startswith("  ") and not line.startswith("   "):
                decl = line.strip()
                if decl in ("Code:", "}"):
                    continue
                if "(" not in decl and "static {}" not in decl:
                    fname = decl.rstrip(";").split()[-1]
                    self.fields[cls].add(demangle(fname))
                    if fname == "MODULE$":
                        self.modules.add(cls)
                    cur = None
                    continue
                if "static {}" in decl:
                    name = "<clinit>"
                else:
                    name = decl.split("(", 1)[0].split()[-1]
                    if name == cls:
                        name = "<init>"
                cur = (cls, name)
                self.methods[cur]
                self.by_name[name].add(cls)
            elif cur is not None and line.startswith("   "):
                self.methods[cur].append(line)

    def is_graft(self, cls):
        return cls.startswith("graft.")

    def reach(self, roots):
        seen = set()
        work = list(roots)
        lambdas = defaultdict(list)        # (cls, base) -> lambda methods
        for (c, n) in self.methods:
            if n.startswith("$anonfun$"):
                base = n[len("$anonfun$"):].split("$", 1)[0]
                lambdas[(c, base)].append((c, n))
        constructed = set()

        def construct(c):
            if c in constructed or not self.is_graft(c):
                return
            constructed.add(c)
            if c in self.modules:
                work.extend([(c, "<init>"), (c, "<clinit>")])
                return
            work.extend(k for k in self.methods if k[0] == c)
            for s in self.supers.get(c, []):
                construct(s)

        while work:
            key = work.pop()
            if key in seen or key not in self.methods:
                continue
            seen.add(key)
            c, n = key
            if n in ("<init>", "<clinit>"):
                # initializer lambdas are named after the val they build
                for base in {"new"} | self.fields[c]:
                    work.extend(lambdas.get((c, base), []))
            else:
                work.extend(lambdas.get((c, demangle(n)), []))
            for line in self.methods[key]:
                op = line.split(":", 1)[-1].split()
                op = op[0] if op else ""
                m = METHOD_REF.search(line)
                if m:
                    owner = (m.group(1) or c.replace(".", "/"))
                    owner = owner.replace("/", ".")
                    name = m.group(2)
                    if name == "<init>":
                        construct(owner)
                    work.append((owner, name))
                    if op in ("invokevirtual", "invokeinterface"):
                        work.extend((k, name) for k in self.by_name[name])
                    continue
                m = FIELD_REF.search(line)
                if m and m.group(2) == "MODULE$" and m.group(1):
                    construct(m.group(1).replace("/", "."))
                    continue
                m = CLASS_REF.search(line)
                if m and op == "new":
                    construct(m.group(1).replace("/", "."))
                    continue
                m = STRING_REF.search(line)
                if m:
                    for obj, meth in CODEGEN_CALL.findall(m.group(1)):
                        work.append((obj + "$", meth))
        return seen

    def object_defs(self):
        """(module class, name) of every def a graft object declares."""
        for (c, n) in self.methods:
            if c not in self.modules or not self.is_graft(c):
                continue
            if n in ("<init>", "<clinit>") or n in SERIAL:
                continue
            d = demangle(n)
            if "$" in d or d in self.fields[c]:
                continue   # synthetic, or a val / lazy val accessor
            if any(f"Method {n}$:" in l or f".{n}$:" in l
                   for l in self.methods[(c, n)] if "invokestatic" in l):
                continue   # forwarder to an inherited trait method
            if d in CASE_OBJECT and (c, "productArity") in self.methods:
                continue
            companion = c[:-1]
            if d in CASE_COMPANION and (companion, "productArity") in \
                    self.methods:
                continue
            yield c, n


def perfbench_roots(graph, src_dir):
    objs = {}
    for c in graph.modules:
        if graph.is_graft(c):
            objs.setdefault(c[:-1].rsplit(".", 1)[-1].split("$")[-1], c)
    roots = []
    for d, _, names in os.walk(src_dir):
        for n in names:
            if not n.endswith(".scala"):
                continue
            text = open(os.path.join(d, n), encoding="utf-8").read()
            imported = set()
            for m in re.finditer(r"import\s+graft\.[\w.]*?\.?\{?([\w, ]+)\}?",
                                 text):
                imported |= {s.strip() for s in m.group(1).split(",")}
            for m in re.finditer(r"import\s+graft\.(?:\w+\.)*(\w+)\s*$",
                                 text, re.M):
                imported.add(m.group(1))
            for obj, member in re.findall(r"\b([A-Z]\w*)\.([a-z]\w*)", text):
                if obj in imported and obj in objs:
                    roots.append((objs[obj], member))
            for fq, member in re.findall(r"\b(graft(?:\.\w+)+)\.([a-z]\w*)",
                                         text):
                roots.append((fq + "$", member))
    return roots


def pretty(cls, name):
    return cls[:-1].replace("$", ".") + "." + demangle(name)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--classes",
                    default=os.path.join(ROOT, "target/scala-2.13/classes"))
    ap.add_argument("--allow",
                    default=os.path.join(ROOT, "tools/reachability_allow.txt"))
    ap.add_argument("--perfbench",
                    default=os.path.join(ROOT, "perfbench/src"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(args.classes, "graft")):
        sys.exit(f"no compiled classes under {args.classes}: run sbt compile")

    g = Graph(javap(args.classes))
    roots = [(c, "main") for c in g.by_name["main"] if g.is_graft(c)]
    roots += [("graft.SparkEntry$", n)
              for n in ("queries", "entry", "oracleSql")]
    roots += perfbench_roots(g, args.perfbench)
    reached = g.reach(roots)

    unreached = sorted({pretty(c, n) for c, n in g.object_defs()
                        if (c, n) not in reached}
                       - {pretty(c, n) for c, n in reached})
    allow, errors = {}, []
    for i, line in enumerate(open(args.allow, encoding="utf-8"), 1):
        body = line.split("#", 1)
        name = body[0].strip()
        if not name:
            continue
        if len(body) < 2 or not body[1].strip():
            errors.append(f"{args.allow}:{i}: {name} has no reason")
        allow[name] = i

    bad = [u for u in unreached if u not in allow]
    stale = [a for a in allow if a not in unreached]
    for u in unreached:
        print(("allowed  " if u in allow else "UNREACHED ") + u)
    for a in stale:
        errors.append(f"{args.allow}:{allow[a]}: {a} is reached or gone; "
                      "drop the line")
    for e in errors:
        print("ERROR " + e)
    print(f"{len(unreached)} unreached defs, {len(bad)} not allowlisted, "
          f"{len(errors)} allowlist errors", file=sys.stderr)
    sys.exit(1 if bad or errors else 0)


if __name__ == "__main__":
    main()
