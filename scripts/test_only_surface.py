#!/usr/bin/env python3
"""List the engine functions that only tests reach.

Every `def` in src/main/scala that is not an `override` must be named
somewhere else in src/main/scala or perfbench/src, outside comments: a
function whose name appears nowhere but its own definition is called, if
at all, only from specs. The references below are kept on purpose and
printed as `kept <file>:<line>: <name> (<reason>)`; anything else found is
printed as `<file>:<line>: <name>` and the exit code is 1.

Usage: python3 scripts/test_only_surface.py [repo root, default .]
"""
import collections
import pathlib
import re
import sys

# name -> why a spec-only function stays in the engine
ALLOWED = {
    'q75PageRank': 'GraphSpec checks q81 against it row for row',
    'stableRoundScala': 'StableRoundSpec and scripts/stableround_sweep.py '
                        'check the engine rounding against it',
    'lshTopk': "PipelineSpec's only reference for q68's ranking and recall",
}

DEF = re.compile(r'^[ \t]*((?:(?:(?:private|protected)(?:\[\w+\])?|final|'
                 r'implicit|override|@\w+)\s+)*)def\s+([A-Za-z_]\w*)', re.M)
WORD = re.compile(r'[A-Za-z_]\w*')


def strip_comments(text):
    """`text` with // and /* */ comments blanked (newlines kept, so line
    numbers hold); string literals are left as they are."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == '\\' else 1
            j = min(j + 1, n)
        elif text.startswith('//', i):
            j = text.find('\n', i)
            j = n if j < 0 else j
            out.append(' ' * (j - i))
            i = j
            continue
        elif text.startswith('/*', i):
            j = text.find('*/', i + 2)
            j = n if j < 0 else j + 2
            out.append(re.sub(r'[^\n]', ' ', text[i:j]))
            i = j
            continue
        else:
            j = i + 1
        out.append(text[i:j])
        i = j
    return ''.join(out)


def main(root):
    root = pathlib.Path(root)
    main_src = root / 'src/main/scala'
    code = {p: strip_comments(p.read_text(encoding='utf-8'))
            for d in (main_src, root / 'perfbench/src')
            for p in sorted(d.rglob('*.scala'))}
    defs, declared = [], collections.Counter()
    for path, text in code.items():
        if main_src not in path.parents:
            continue
        for m in DEF.finditer(text):
            if 'override' in m.group(1).split():
                continue
            declared[m.group(2)] += 1
            defs.append((path.relative_to(root),
                         text.count('\n', 0, m.start()) + 1, m.group(2)))
    named = collections.Counter(
        w for text in code.values() for w in WORD.findall(text))
    found = 0
    for f, line, name in defs:
        if named[name] > declared[name]:
            continue
        if name in ALLOWED:
            print(f'kept {f}:{line}: {name} ({ALLOWED[name]})')
        else:
            print(f'{f}:{line}: {name}')
            found += 1
    return 1 if found else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else '.'))
