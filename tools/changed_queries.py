#!/usr/bin/env python3
"""Print the query names whose definitions changed since a git ref.

Attribution is line-range-accurate: each `"name" -> ...` entry in a
query source owns its own body — from its declaration to the `,` or
closing bracket that ends it, found by bracket depth outside strings,
chars and comments — plus the comment and blank lines directly above
it. A changed post-image line inside that range marks the query dirty.
(A hunk-local nearest-declaration heuristic mis-attributes edits deep
in a body — the exact miss that let doc_dsir_weights ship unchecked in
r7.) A changed line outside every entry — the imports, a shared helper
before, between or after the query maps — feeds every query in the
file, so it is attributed conservatively to ALL of them rather than
silently skipping the gate, and to every entry of another query file
whose body names the file's object (`TextAnalysis.winnowShared` feeds
Dedup's `dedup_winnow_pairs`).

Usage: python3 tools/changed_queries.py [since-ref]   (default HEAD~1)
"""
import bisect, glob, os, re, subprocess, sys

REF = sys.argv[1] if len(sys.argv) > 1 else "HEAD~1"
DECL = re.compile(r'^\s*"([a-z0-9_]+)"\s*->')
COMMENT = re.compile(r'^\s*(//|/\*|\*|$)')


def entry_end(text, i):
    """Offset of the character that ends the entry whose `->` is at
    offset `i`: a `,` at bracket depth 0, or the bracket that closes
    the enclosing map."""
    depth = 0
    n = len(text)
    while i < n:
        if text.startswith('"""', i):
            i = text.find('"""', i + 3)
            i = n if i < 0 else i + 3
            while i < n and text[i] == '"':  # a quote right before """
                i += 1
            continue
        c = text[i]
        if c == '"':
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
        elif text.startswith("//", i):
            i = text.find("\n", i)
            i = n if i < 0 else i
            continue
        elif text.startswith("/*", i):
            i = text.find("*/", i + 2)
            i = n if i < 0 else i + 1
        elif c == "'" and text[i + 1:i + 2] == "\\":
            i = text.find("'", i + 2)
            i = n if i < 0 else i
        elif c == "'" and text[i + 2:i + 3] == "'":
            i += 2
        elif c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if depth < 0:
                return i
        elif c == "," and depth == 0:
            return i
        i += 1
    return n - 1


def entry_ranges(text):
    """(first_line, last_line, name) per entry, 1-indexed."""
    lines = text.splitlines()
    offsets = [0]
    for line in lines:
        offsets.append(offsets[-1] + len(line) + 1)
    ranges = []
    for k, line in enumerate(lines, 1):
        m = DECL.match(line)
        if not m:
            continue
        first = k
        prev_end = ranges[-1][1] if ranges else 0
        while first - 1 > prev_end and COMMENT.match(lines[first - 2]):
            first -= 1
        arrow = offsets[k - 1] + line.index("->", m.end(1))
        last = bisect.bisect_right(offsets, entry_end(text, arrow + 2))
        ranges.append((first, last, m.group(1)))
    return ranges


def main():
    files = subprocess.run(
        ["git", "diff", "--name-only", REF, "--",
         "src/main/scala/graft/queries/*.scala"],
        capture_output=True, text=True, check=True).stdout.split()
    dirty = set()
    shared = set()  # objects whose shared helpers changed
    for path in files:
        # post-image line numbers touched by the diff (added/context edge)
        diff = subprocess.run(["git", "diff", "-U0", REF, "--", path],
                              capture_output=True, text=True,
                              check=True).stdout
        changed = set()
        for m in re.finditer(r"^@@ -\S+ \+(\d+)(?:,(\d+))? @@", diff, re.M):
            start = int(m.group(1))
            count = int(m.group(2)) if m.group(2) is not None else 1
            # pure deletions report count 0 at the line BEFORE the
            # removal; mark the two surrounding post-image lines so the
            # owning query is still flagged
            changed.update(range(start, start + max(count, 2)))
        try:
            text = open(path).read()
        except FileNotFoundError:  # file deleted: its queries are gone
            continue
        ranges = entry_ranges(text)
        for c in changed:
            owners = [name for first, last, name in ranges
                      if first <= c <= last]
            if owners:
                dirty.update(owners)
            elif c <= len(text.splitlines()):
                dirty.update(name for _, _, name in ranges)
                shared.add(os.path.basename(path)[:-len(".scala")])
    for path in glob.glob("src/main/scala/graft/queries/*.scala"):
        lines = open(path).read().splitlines()
        for first, last, name in entry_ranges("\n".join(lines)):
            body = "\n".join(lines[first - 1:last])
            if any(obj + "." in body for obj in shared):
                dirty.add(name)
    print(" ".join(sorted(dirty)))


if __name__ == "__main__":
    main()
