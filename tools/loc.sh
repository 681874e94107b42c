#!/bin/bash
# Size of the Scala library in src/main/scala, at the working tree or at
# a git revision:
#   code_lines               non-blank lines that are not comment lines
#   comment_lines            lines starting with //, /* or *
#   public_defaulted_params  parameters with a default value in the
#                            parameter lists of defs not marked private
#                            or protected (the caller-facing option count)
# Examples:
#   tools/loc.sh            # the working tree (tracked files)
#   tools/loc.sh HEAD~1     # a revision
set -euo pipefail
cd "$(dirname "$0")/.."
rev="${1:-}"
files=$(if [ -n "$rev" ]; then git ls-tree -r --name-only "$rev" -- src/main/scala
        else git ls-files src/main/scala; fi | grep '\.scala$')
src() { for f in $files; do
  if [ -n "$rev" ]; then git show "$rev:$f"; else cat "$f"; fi; echo; done; }
echo "code_lines $(src | grep -cvE '^\s*($|//|/\*|\*)')"
echo "comment_lines $(src | grep -cE '^\s*(//|/\*|\*)')"
src | python3 -c '
import re, sys
s = sys.stdin.read()
# blank out comments and string literals so their parens and "=" never count
s = re.sub(r"//[^\n]*|/\*.*?\*/", " ", s, flags=re.S)
s = re.sub(r"\"\"\".*?\"\"\"|\"(?:\\.|[^\"\\\n])*\"", "\"\"", s, flags=re.S)
n = 0
for m in re.finditer(r"^[ \t]*((?:[a-z]+(?:\[\w+\])?[ \t]+)*)def[ \t]+[^\s(\[:=]+", s, flags=re.M):
    if re.search(r"\b(private|protected)\b", m.group(1)):
        continue
    i, depth = m.end(), 0
    # type parameters, then every parameter list up to the result type
    while i < len(s):
        c = s[i]
        if depth == 0 and c not in "([" and not c.isspace():
            break
        if c in "([":
            depth += 1
            start = i + 1 if depth == 1 and c == "(" else None
            if start is not None:
                j, d = start, 1
                while d:
                    d += {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}.get(s[j], 0)
                    j += 1
                params, d, cur = [], 0, ""
                for ch in s[start:j - 1]:
                    d += {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}.get(ch, 0)
                    if ch == "," and d == 0:
                        params.append(cur); cur = ""
                    else:
                        cur += ch
                params.append(cur)
                n += sum(1 for p in params
                         if re.search(r"(?<![=<>!])=(?![>=])", p.replace("=>", "")))
                i, depth = j, 0
                continue
        elif c in ")]":
            depth -= 1
        i += 1
print(f"public_defaulted_params {n}")
'
