#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps key by key.

    python3 tools/plan_diff.py <explainA> <explainB>

Each dump is split on its `===== <key> =====` headers (sbt log lines
outside a section are ignored). Expression ids (`#123`, `#123L`) and
`plan_id=123` differ between runs of the same plan, and a lambda
variable's name carries a JVM-wide counter (`lambda x_17`) that moves
with every lambda built earlier in the process, so all three are
normalized before comparing, as are the directory a catalog table's
files sit under (`spark-warehouse` is relative to each checkout's
working directory) and the suffix of a process's private fixture copy
(`graft_chatlog_fixture.jvm-<pid>-<uuid>`, named per JVM). So are the
other names a JVM or an adaptive run hands out in its own order: object identity hashes (`[D@4a0d4096`,
`UnsafeArrayData@9a6059cd`), lambda class names
(`$$Lambda$5707/0x00007f918564b288`), common-subexpression aliases
(`_common_expr_3`), broadcast variable ids (`Broadcast(280)`, a
SparkContext-wide counter that moves with every broadcast made before),
and the numbers of AQE query stages and codegen stages, which follow the
order in which stages are created and finish. A scan's metadata value that
Spark cut at `spark.sql.maxMetadataStringLength` (`DataFilters: [isnotnull(a#12),
(pmod(...`) is cut at a length that counts the id digits, so it shows as
`[...]`. Prints `<key>: same` or a
unified diff of the normalized plans per key, and exits 1 if any key
differs or is present in only one dump. This is the plan-identity check for refactors:
run Explain on the parent commit and on the change, then diff.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
EXPR_ID = re.compile(r"#\d+L?")
PLAN_ID = re.compile(r"plan_id=\d+")
LAMBDA = re.compile(r"(lambda \w+?)_\d+")
WAREHOUSE = re.compile(r"file:\S*?/spark-warehouse/")
PRIVATE_COPY = re.compile(r"\.jvm-\d+-[0-9a-f]+")
IDENTITY = re.compile(r"@[0-9a-f]{4,}\b")
LAMBDA_CLASS = re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+")
COMMON_EXPR = re.compile(r"_common_expr_\d+")
STAGE = re.compile(r"(QueryStage) \d+")
CODEGEN = re.compile(r"\*\(\d+\)")
BROADCAST_ID = re.compile(r"Broadcast\(\d+\)")
# a metadata list that ends in Spark's "..." cut, up to that cut and no
# further than the next `Name: [` item
TRUNCATED = re.compile(r"(\w+: )\[(?:(?!\w+: \[).)*?\.\.\.(?=,|$)")
# sbt prefixes forked-process output and appends its own status lines;
# Spark's log4j lines (stderr) can interleave with a printed plan
SBT_PREFIX = re.compile(r"^\[(info|error|warn|success)\] ?")
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ ")


def normalize(line):
    for pattern, repl in ((EXPR_ID, "#N"), (PLAN_ID, "plan_id=N"),
                          (LAMBDA, r"\1_N"), (WAREHOUSE, "file:<cwd>/spark-warehouse/"),
                          (PRIVATE_COPY, ".jvm-N"),
                          (IDENTITY, "@N"), (LAMBDA_CLASS, "$Lambda$N"),
                          (COMMON_EXPR, "_common_expr_N"), (STAGE, r"\1 N"),
                          (CODEGEN, "*(N)"), (BROADCAST_ID, "Broadcast(N)"),
                          (TRUNCATED, r"\1[...]")):
        line = pattern.sub(repl, line)
    return line


def sections(path):
    """{key: [normalized plan lines]} from one Explain dump."""
    out, key = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = SBT_PREFIX.sub("", raw.rstrip("\n"))
            m = HEADER.match(line.strip())
            if m:
                key = m.group(1)
                out[key] = []
            elif key is not None:
                if (line.startswith("Total time:") or not line.strip()
                        or LOG_LINE.match(line)):
                    continue
                out[key].append(normalize(line))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    differs = False
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"{key}: only in {argv[1] if key in a else argv[2]}")
            differs = True
        elif a[key] == b[key]:
            print(f"{key}: same")
        else:
            differs = True
            print(f"{key}: differs")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    a[key], b[key], argv[1], argv[2], lineterm="", n=1))
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
