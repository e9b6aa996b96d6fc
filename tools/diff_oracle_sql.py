#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps token by token.

Each SQL string is split into tokens: quoted literals ('...' with '' as an
escaped quote, and "...") kept verbatim, words, numbers and single
punctuation characters; whitespace is dropped. Two dumps match when they
have the same key set and every key's token list is identical, so a
re-indented oracle matches and a changed literal, operator or name does not.

Take a dump without running any query:
  SPARK_GRAFT_ONLY=none sbt "runMain graft.Verify <sfDir> <outDir>"
which writes <outDir>/oracle_sql.json.

Usage: diff_oracle_sql.py OLD.json NEW.json
Exit status 0 when the dumps are token-identical, 1 otherwise (a per-key
diff is printed).
"""
import difflib
import json
import re
import sys

TOKEN = re.compile(r"""
    '(?:[^']|'')*'        # single-quoted literal, '' escapes a quote
  | "(?:[^"]|"")*"        # double-quoted identifier
  | [A-Za-z_][A-Za-z_0-9]*
  | [0-9]+(?:\.[0-9]+)?
  | \S                    # any other single character
""", re.VERBOSE)


def tokens(sql):
    return TOKEN.findall(sql)


def main(old_path, new_path):
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    bad = same = 0
    for k in sorted(set(old) - set(new)):
        print(f"MISSING {k}: in {old_path} only")
        bad += 1
    for k in sorted(set(new) - set(old)):
        print(f"EXTRA {k}: in {new_path} only")
        bad += 1
    for k in sorted(set(old) & set(new)):
        a, b = tokens(old[k]), tokens(new[k])
        if a == b:
            same += 1
            continue
        bad += 1
        print(f"DIFF {k}: {len(a)} -> {len(b)} tokens")
        for line in difflib.unified_diff(a, b, "old", "new", n=3, lineterm=""):
            print("  " + line)
    print(f"{same} token-identical, {bad} differing "
          f"({len(old)} old keys, {len(new)} new keys)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
