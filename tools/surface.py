#!/usr/bin/env python3
"""Usage: python3 tools/surface.py [repo-dir] -- print every public def in
src/main that nothing reaches; exit 1 if there is any. Comments and strings
are stripped (an interpolated string keeps its ${...}); reachability is by
name, transitive from SparkEntry, Bench, Verify, GraftSession, graft/tools,
graft/plans, perfbench/src, every `main` and SURVEY.md's "Library-only
surface" table. An object member is reached by `Obj.name` or by a bare
`name` in its file or a file importing it; a class by its name, methods too.
"""
import pathlib
import re
import sys
from collections import namedtuple

ROOT = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
ROOT_FILES = {"SparkEntry.scala", "Bench.scala", "Verify.scala", "GraftSession.scala"}
ROOT_DIRS = {"tools", "plans"}
NOISE = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\\\'\n])\'|//[^\n]*|/\*[\s\S]*?\*/')
DECL = re.compile(r"^( {0,2})((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|"
                  r"lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|object|class|trait|type)\s+(\w+)")
PAIR = re.compile(r"(?=\b(\w+)\s*\.\s*(\w+))")
BARE = re.compile(r"(?<![\w.])(\w+)")
IMPORT = re.compile(r"^\s*import\s+([\w.]+)\.(?:_|\{([^}]*)\}|(\w+))\s*$", re.M)
# owner: enclosing top-level object (None for a top-level class or trait)
Member = namedtuple("Member", "owner kind name mods line body path root")

def blank(m):
    keep = m.group().startswith('"') and m.string[m.start() - 1:m.start()].isalnum()
    return re.sub(r"\$\{[^}]*\}|[^\n]",
                  lambda c: c.group() if keep and len(c.group()) > 1 else " ", m.group())

def members(path, root):
    """Members of the file's top-level templates; a member's body runs to the
    next declaration at its indentation or less."""
    text = NOISE.sub(blank, path.read_text())
    out, owner = [], None
    for i, line in enumerate(text.split("\n")):
        d = DECL.match(line)
        if d and (not d.group(1) or owner):
            if not d.group(1):
                owner = d.group(4) if d.group(3) == "object" else None
            if d.group(1) or d.group(3) != "object":  # a top-level object is a namespace
                out.append(Member(owner, d.group(3), d.group(4), d.group(2), i + 1, [], path, root))
        if out and not line.lstrip().startswith("import "):
            out[-1].body.append(line)
    wild, named = set(), set()
    for prefix, sel, one in IMPORT.findall(text):
        obj = prefix.rsplit(".", 1)[-1]
        if not sel and not one:
            wild.add(obj)
        named |= {(obj, n.split("=>")[0].strip()) for n in ([one] if one else sel.split(","))}
    return out, (wild, named)

def main():
    files = [(p, p.name in ROOT_FILES or p.parent.name in ROOT_DIRS)
             for p in (ROOT / "src/main/scala").rglob("*.scala")]
    files += [(p, True) for p in (ROOT / "perfbench/src").rglob("*.scala")]
    table = (ROOT / "SURVEY.md").read_text().split("Library-only surface", 1)[-1].split("\n#", 1)[0]
    allow = set(re.findall(r"^\|\s*`(\w+)\.(\w+)`", table, re.M))
    mems, imps, by_name = [], {}, {}
    for p, root in files:
        ms, imps[p] = members(p, root)
        mems += ms
    for m in mems:
        by_name.setdefault(m.name, []).append(m)
    reached, work = set(), []
    def reach(m):
        if id(m) not in reached:
            reached.add(id(m))
            work.append(m)
    for m in mems:
        if m.root or "override" in m.mods or m.name == "main" or (m.owner, m.name) in allow:
            reach(m)
    while work:
        m = work.pop()
        body = "\n".join(m.body)
        wild, named = imps[m.path]
        pairs, bare = set(PAIR.findall(body)), set(BARE.findall(body))
        for a, n in pairs:
            for t in by_name.get(n, []):
                if t.owner == a or (t.owner is None and t.kind in ("class", "trait")):
                    reach(t)
        for n in bare:
            for t in by_name.get(n, []):
                if t.owner is None or t.path == m.path or t.owner in wild or (t.owner, n) in named:
                    reach(t)
        called = bare | {n for _, n in pairs}  # `Obj(...)` runs Obj.apply (Obj.unapply in a pattern)
        for t in by_name.get("apply", []) + by_name.get("unapply", []):
            if t.owner in called:
                reach(t)
    dead = sorted((m for m in mems if id(m) not in reached and m.kind == "def" and m.owner and not m.root
                   and not m.mods.startswith(("private", "protected"))), key=lambda m: (str(m.path), m.line))
    for m in dead:
        print(f"{m.path.relative_to(ROOT)}:{m.line} {m.owner}.{m.name} ({len(m.body)} lines)")
    print(f"{len(dead)} unreached public defs, {sum(len(m.body) for m in dead)} lines")
    return 1 if dead else 0

if __name__ == "__main__":
    sys.exit(main())
