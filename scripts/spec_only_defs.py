#!/usr/bin/env python3
"""List the public `def`s in src/main that only specs (or nothing) use.

Usage: python3 scripts/spec_only_defs.py [repoRoot]

A public `def` (not private/protected/override, not `main`) counts as
spec-only when its name appears in no other src/main or perfbench/src
Scala code, and in no code of its own file besides its definition.
Comments do not count as uses; string literals do (oracle SQL names
functions). Matching is by name, so a name that is also common
elsewhere (e.g. `table`) is never listed.

Every listed name must be on ALLOWLIST, each with a one-line reason.
Exits 1 if any listed name is not. Allowlisted names the rule does not
list are printed, not failed: either the def gained a caller (drop the
entry) or its name collides with other code (e.g. `Sinks.compact`).
"""
import os
import re
import sys

ALLOWLIST = {
    # reference implementations: specs compare the gate's path to these
    "Dedup.shinglesComposed": "reference: DedupSpec pins the fused shingler equal to it",
    "Dedup.simHash": "reference: DedupSpec pins simHashSignatures bit-identical to it",
    "Similarity.lshMultiProbeP1": "reference: SimilaritySpec checks multi-probe recall against it",
    "Similarity.lshBucket": "reference: SimilaritySpec checks the LSH bucket layout against it",
    "Similarity.knnIvfWorthIt": "reference: SimilaritySpec checks knnAutoRoute's boundary against it",
    "EventsStream.statefulSessions": "reference: StreamingSpec pins twsSessions equal to it",
    "Similarity.cosine": "reference: SimilaritySpec rescores returned neighbours with it",
    "EventsStream.tumblingCounts":
        "only test of an append-mode stream into a checkpointed parquet sink",
    # next pass: single implementations that only specs reach today;
    # each becomes a gate row or is deleted with its spec
    "Bucketing.writeBucketed": "next pass: gate row or delete with BucketingSpec",
    "Sinks.compact": "next pass: gate row or delete with its SourcesSinksSpec cases",
    "AutoML.trainScore": "next pass: gate row or delete with its AutoMLSpec case",
    "AutoML.loadOrTrain": "next pass: gate row or delete with its AutoMLSpec case",
    "Multimodal.sampleFrames": "next pass: gate row or delete with its MultimodalSpec case",
    "Tables.registerAll": "next pass: gate row or delete with ExtensionsSpec's SQL case",
    "EventsStream.sessionCounts": "next pass: gate row or delete with its StreamingSpec case",
    "EventsStream.startMemorySink": "next pass: gate row or delete with the StreamingSpec sinks",
    "ZOrder.zorderKey": "next pass: gate row zorder_layout uses zValue only; write layout is spec-only",
    "ZOrder.clusterBy": "next pass: gate row zorder_layout uses zValue only; write layout is spec-only",
}

DEF = re.compile(r"^\s*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|"
                 r"inline|@\w+)\s+)*def\s+([A-Za-z_]\w*)")


def strip_comments(src):
    """Scala source with // and (nested) /* */ comments blanked out;
    string literals kept; newlines kept so line numbers still hold."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...x"""" closes at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
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
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scala_files(root, rel):
    for d, _, fs in os.walk(os.path.join(root, rel)):
        for f in sorted(fs):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_files = list(scala_files(root, "src/main"))
    all_files = main_files + list(scala_files(root, "perfbench/src"))
    code = {p: strip_comments(open(p, encoding="utf-8").read()) for p in all_files}

    listed = []
    for path in main_files:
        lines = code[path].split("\n")
        for ln, line in enumerate(lines):
            m = DEF.match(line)
            if not m or m.group(1) and re.search(r"private|protected|override", m.group(1)):
                continue
            name = m.group(2)
            if name == "main":
                continue
            word = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
            own = "\n".join(lines[:ln] + [word.sub("", line, count=1)] + lines[ln + 1:])
            if word.search(own) or any(word.search(code[p]) for p in all_files if p != path):
                continue
            key = os.path.basename(path)[:-len(".scala")] + "." + name
            listed.append((key, os.path.relpath(path, root), ln + 1))

    bad = [x for x in listed if x[0] not in ALLOWLIST]
    for key, path, ln in listed:
        reason = ALLOWLIST.get(key, "NOT ALLOWLISTED")
        print(f"{path}:{ln}  {key}  — {reason}")
    stale = sorted(set(ALLOWLIST) - {k for k, _, _ in listed})
    for key in stale:
        print(f"allowlisted but not listed by the name rule: {key}")
    print(f"{len(listed)} spec-only defs, {len(bad)} not allowlisted")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
