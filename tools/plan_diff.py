#!/usr/bin/env python3
"""Compare two `graft.Explain` outputs query by query.

    python3 tools/plan_diff.py <before.txt> <after.txt>

Each file is split on its `===== name =====` headers. Before comparing,
the run-specific parts of every plan are replaced by placeholders:
expression ids (`#123`), plan ids (`plan_id=45`), lambda and object
hash codes (`$Lambda$12/0x…@1a2b3c`, `@1a2b3c4d`), RDD ids (`RDD[7]`),
source line numbers (`.scala:923`) and the store directories the
registry writes under `java.io.tmpdir`: that prefix itself, the
per-context corpus memo root (`graft_corpus_memo-<app>-<start>`) and
the hex-keyed `graft_sig_store/<hex>` and `graft_ann_index/<hex>`
directories. The input may be the raw stdout
of `sbt "runMain graft.Explain …"`: `[info] ` prefixes are stripped and
other sbt-tagged lines (Spark's log output, `[success]`) are dropped.

Prints a unified diff for every query whose normalized plan differs,
or that appears in only one file, then a one-line summary. Exits 1 if
any query differs, 0 otherwise.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")
SBT_TAG = re.compile(r"^\[(info|warn|error|success|debug)\] ?")
STORE = r"graft_(?:corpus_memo-|sig_store/|ann_index/)"
NORMALIZE = [
    (re.compile(r"/[^\s\[\],:]*/(?=" + STORE + ")"), "TMPDIR/"),
    (re.compile(r"graft_corpus_memo-[^/\s\],]+"), "graft_corpus_memo-APP"),
    (re.compile(r"graft_(sig_store|ann_index)/[0-9a-f]+"), r"graft_\1/H"),
    (re.compile(r"\$Lambda\$?\d*/0x[0-9a-f]+"), "$Lambda$N/0xH"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


def plans(path):
    """name -> list of normalized plan lines, in file order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = SBT_TAG.match(line)
            if m:
                if m.group(1) != "info":
                    continue
                line = line[m.end():]
            h = HEADER.match(line)
            if h:
                cur = h.group(1)
                out[cur] = []
                continue
            if cur is None:
                continue
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
            out[cur].append(line)
    # trailing blank lines are separator noise, not plan content
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = plans(argv[1]), plans(argv[2])
    names = list(before) + [n for n in after if n not in before]
    differ = []
    for n in names:
        a, b = before.get(n), after.get(n)
        if a == b:
            continue
        differ.append(n)
        sys.stdout.writelines(
            l + "\n" for l in difflib.unified_diff(
                a or [], b or [],
                fromfile=f"{argv[1]}:{n}" if a is not None else "(absent)",
                tofile=f"{argv[2]}:{n}" if b is not None else "(absent)",
                lineterm=""))
    same = len(names) - len(differ)
    print(f"{same} identical, {len(differ)} differ"
          + (": " + ", ".join(differ) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
