#!/usr/bin/env python3
"""Size counters for the engine source (default root: src/main).

Prints three figures:
  - non-comment lines: lines of the .scala files that still hold code once
    `//` line comments and `/* ... */` block comments (scaladoc included)
    are removed; blank lines do not count;
  - defaulted parameters: parameters of every `def` / `class` parameter
    list whose text holds a top-level `=` (a default value; `=>`, `==`,
    `<=`, `>=` and `!=` are not defaults);
  - unreferenced definitions: public and `private[graft]` member `def`,
    `val`, `object` and `class` definitions in ROOT whose name appears
    nowhere else in ROOT or in the benchmark's `perfbench/src/main` of the
    same checkout, comments stripped as for the first figure. Overrides,
    implicit vals and the names in ALLOWED are not counted. A name that
    also appears elsewhere (`run` in `TrainJob.run`, say) hides an
    unreferenced definition of the same name, so the figure is a lower
    bound.

Usage: python3 tools/count_main.py [--list] [ROOT]
  --list  also print the qualified name of each unreferenced definition

Exits 1 when the third figure is not 0: a definition that nothing calls
gets a caller, moves into its spec, goes, or joins ALLOWED with a reason.
"""
import glob
import os
import re
import sys

# Definitions that nothing in src/main or perfbench/src/main calls on
# purpose, each with its reason.
ALLOWED = {
    'Bench': 'main, started by `sbt runMain graft.Bench`',
    'Smoke': 'main, started by `sbt runMain graft.Smoke`',
    'Verify': 'main, started by `sbt runMain graft.Verify`',
    'TripleStore.compact': 'public store maintenance call for operators',
    'EntityStore.mergedBatches': 'public store read of the merged batch ids',
    'KgPipeline.overwriteTopics': 'public job entry point: the reference\'s '
                                  'overwrite job mode (jobs/topics_detector_'
                                  'inference_job.py:18-72)',
    'Similarity.lshTopK': 'spec reference: the one-shot LSH top-k that '
                          'PlanSpec and DedupSpec check LshIndex against',
    'Text.sklearnTokens': 'spec reference: the scikit-learn tokenizer twin '
                          'that TextKernelOracleSpec checks '
                          'TopicScorer.tokenize against',
}


def strip_comments(src):
    """Source with comments removed; string and char literals kept, line
    breaks inside block comments kept so line structure survives."""
    out, i, n, depth, in_str = [], 0, len(src), 0, None
    while i < n:
        c = src[i]
        if depth:
            if src.startswith('/*', i):
                depth, i = depth + 1, i + 2
            elif src.startswith('*/', i):
                depth, i = depth - 1, i + 2
            else:
                if c == '\n':
                    out.append(c)
                i += 1
            continue
        if in_str == '"""':
            if src.startswith('"""', i):
                j = i + 3
                while j < n and src[j] == '"':
                    j += 1
                out.append(src[i:j])
                i, in_str = j, None
            else:
                out.append(c)
                i += 1
            continue
        if in_str == '"':
            if c == '\\':
                out.append(src[i:i + 2])
                i += 2
                continue
            if c == '"':
                in_str = None
            out.append(c)
            i += 1
            continue
        if src.startswith('"""', i):
            in_str = '"""'
            out.append('"""')
            i += 3
        elif c == '"':
            in_str = '"'
            out.append(c)
            i += 1
        elif c == "'" and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            k = 4 if src[i + 1] == '\\' else 3
            out.append(src[i:i + k])
            i += k
        elif src.startswith('//', i):
            while i < n and src[i] != '\n':
                i += 1
        elif src.startswith('/*', i):
            depth, i = 1, i + 2
        else:
            out.append(c)
            i += 1
    return ''.join(out)


def balanced(t, i, open_ch, close_ch):
    """Index just past the bracket group that opens at t[i]."""
    depth, in_str, n = 0, False, len(t)
    while i < n:
        ch = t[i]
        if in_str:
            if ch == '\\':
                i += 1
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == open_ch:
            depth += 1
        elif ch == close_ch:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return n


def param_lists(t):
    """The text of each parameter list of each def / class header."""
    for m in re.finditer(r'\b(def|class)\s+[^\s\[(:=]+', t):
        i = m.end()
        while i < len(t) and t[i] in ' \t':
            i += 1
        if i < len(t) and t[i] == '[':
            i = balanced(t, i, '[', ']')
        while True:
            j = i
            while j < len(t) and t[j] in ' \t\n':
                j += 1
            if j >= len(t) or t[j] != '(':
                break
            end = balanced(t, j, '(', ')')
            yield t[j + 1:end - 1]
            i = end


def split_top(s):
    """Split on commas outside brackets and strings."""
    parts, depth, cur, in_str = [], 0, [], False
    for ch in s:
        if in_str:
            in_str = ch != '"'
        elif ch == '"':
            in_str = True
        elif ch in '([{':
            depth += 1
        elif ch in ')]}':
            depth -= 1
        elif ch == ',' and depth == 0:
            parts.append(''.join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append(''.join(cur))
    return parts


def has_default(p):
    depth, in_str = 0, False
    for i, ch in enumerate(p):
        if in_str:
            in_str = ch != '"'
        elif ch == '"':
            in_str = True
        elif ch in '([{':
            depth += 1
        elif ch in ')]}':
            depth -= 1
        elif ch == '=' and depth == 0:
            prev = p[i - 1] if i else ''
            nxt = p[i + 1] if i + 1 < len(p) else ''
            if nxt not in '=>' and prev not in '=!<>':
                return True
    return False


DEF_RE = re.compile(
    r'(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+'
    r'|lazy\s+|implicit\s+|abstract\s+|sealed\s+|case\s+)*)'
    r'(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)')
KEYWORD_RE = re.compile(r'\b(def|val|var|object|class|trait|new)\b')


def public(mods):
    """Whether modifiers `mods` leave a definition public or private[graft]."""
    return all(m in ('', 'private[graft]') for m in
               re.findall(r'(?:private|protected)(?:\[\w+\])?|$', mods))


def template_head(seg):
    """(name, public) of the object/class/trait whose body the `{` after
    `seg` opens, or None when it opens any other block. It opens a body
    when the last `def`/`val`/`var`/`object`/`class`/`trait`/`new` in
    `seg` at paren depth 0 is `object`, `class` or `trait`."""
    depth = 0
    for k in range(len(seg) - 1, -1, -1):
        c = seg[k]
        if c in ')]':
            depth += 1
        elif c in '([':
            depth -= 1
            if depth < 0:
                return None
        elif depth == 0:
            m = KEYWORD_RE.match(seg, k)
            if m and (k == 0 or not re.match(r'\w', seg[k - 1])):
                if m.group(1) not in ('object', 'class', 'trait'):
                    return None
                d = DEF_RE.search(seg, max(0, seg.rfind('\n', 0, k)))
                if d and d.group(2) == m.group(1):
                    return d.group(3), public(d.group(1))
                return None
    return None


def definitions(t):
    """(qualified name, name) of each public or private[graft] member
    definition in the stripped source `t` that is not an override or an
    implicit val. Definitions inside a method or block are local."""
    starts = {m.start(2): m for m in DEF_RE.finditer(t)}
    stack, chains, last, in_str, i = [], {}, 0, False, 0
    while i < len(t):
        ch = t[i]
        if in_str:
            if ch == '\\':
                i += 1
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == '{':
            stack.append(template_head(t[last:i]))
            last = i + 1
        elif ch == '}':
            if stack:
                stack.pop()
            last = i + 1
        elif i in starts:
            chains[i] = list(stack)
        i += 1
    for off, m in starts.items():
        chain, mods = chains.get(off, []), m.group(1)
        if any(head is None for head in chain):
            continue  # a local definition inside a method or block
        if not all(pub for _, pub in chain) or not public(mods):
            continue
        if 'override' in mods or ('implicit' in mods and m.group(2) == 'val'):
            continue
        yield '.'.join([n for n, _ in chain] + [m.group(3)]), m.group(3)


def unreferenced(root):
    """Qualified names of the definitions the third figure counts."""
    bench = os.path.join(root, '..', '..', 'perfbench', 'src', 'main')
    sources = {f: strip_comments(open(f, encoding='utf-8').read())
               for d in (root, bench)
               for f in glob.glob(f'{d}/**/*.scala', recursive=True)}
    words = {}
    for t in sources.values():
        for w in re.findall(r'[A-Za-z_]\w*', t):
            words[w] = words.get(w, 0) + 1
    found = set()
    for f, t in sources.items():
        if os.path.commonpath([os.path.abspath(f), os.path.abspath(root)]) != os.path.abspath(root):
            continue
        for qualified, name in definitions(t):
            if words.get(name, 0) == 1 and qualified not in ALLOWED:
                found.add(qualified)
    return sorted(found)


def main():
    args = [a for a in sys.argv[1:] if a != '--list']
    root = args[0] if args else 'src/main'
    lines = defaults = 0
    for f in sorted(glob.glob(f'{root}/**/*.scala', recursive=True)):
        with open(f, encoding='utf-8') as fh:
            t = strip_comments(fh.read())
        lines += sum(1 for line in t.split('\n') if line.strip())
        defaults += sum(has_default(p)
                        for pl in param_lists(t) for p in split_top(pl))
    unused = unreferenced(root)
    print(f'non-comment lines: {lines}')
    print(f'defaulted parameters: {defaults}')
    print(f'unreferenced definitions: {len(unused)}')
    if '--list' in sys.argv[1:]:
        for q in unused:
            print(f'  {q}')
    if unused:
        sys.exit(1)


if __name__ == '__main__':
    main()
