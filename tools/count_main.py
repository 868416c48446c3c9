#!/usr/bin/env python3
"""Size counters for the engine source (default root: src/main).

Prints two figures:
  - non-comment lines: lines of the .scala files that still hold code once
    `//` line comments and `/* ... */` block comments (scaladoc included)
    are removed; blank lines do not count;
  - defaulted parameters: parameters of every `def` / `class` parameter
    list whose text holds a top-level `=` (a default value; `=>`, `==`,
    `<=`, `>=` and `!=` are not defaults).

Usage: python3 tools/count_main.py [ROOT]
"""
import glob
import re
import sys


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


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else 'src/main'
    lines = defaults = 0
    for f in sorted(glob.glob(f'{root}/**/*.scala', recursive=True)):
        with open(f, encoding='utf-8') as fh:
            t = strip_comments(fh.read())
        lines += sum(1 for line in t.split('\n') if line.strip())
        defaults += sum(has_default(p)
                        for pl in param_lists(t) for p in split_top(pl))
    print(f'non-comment lines: {lines}')
    print(f'defaulted parameters: {defaults}')


if __name__ == '__main__':
    main()
