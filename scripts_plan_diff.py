#!/usr/bin/env python3
"""Compare two `graft.tools.Inspect explain` dump directories plan by plan.

    python3 scripts_plan_diff.py <dirA> <dirB>

Each directory holds `<name>_<tag>.txt` files; files pair up by query name
(the part before the last `_`), so the two dumps may use different tags.
Per-run noise is normalized away before comparing: expression ids (`#12`,
`#12L`), exchange `plan_id`s, lambda identity hashes, per-process temp-dir
suffixes (`_p<pid>`), RDD ids and RDD call-site line numbers
(`createDataFrame at Multimodal.scala:155` → `Multimodal.scala:N`), since a
refactor that moves the line of a `createDataFrame` or `.rdd` call changes
that text without changing the plan. Numbered lambda variables
(`lambda x_212`), which Spark names from a JVM-wide counter, are renumbered
per file in order of first appearance (`x_212`, `y_213`, `x_9` → `x_1`,
`y_2`, `x_3`), so a dump's name order does not matter while distinct
variables stay distinct. Prints each name whose plans differ or
that only one side has; exits 1 if there is any, else 0."""
import os, re, sys

NORMALIZE = [
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda(\$[0-9]+)?/0x[0-9a-f]+@[0-9a-f]+"), "LAMBDA"),
    (re.compile(r"_p[0-9]+"), "_pN"),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[N]"),
    (re.compile(r"\.scala:[0-9]+"), ".scala:N"),
]


LAMBDA_VAR = re.compile(r"\blambda ([A-Za-z]+)_([0-9]+)\b")


def renumber_lambdas(text):
    seen = {}

    def repl(m):
        k = seen.setdefault((m.group(1), m.group(2)), len(seen) + 1)
        return f"lambda {m.group(1)}_{k}"
    return LAMBDA_VAR.sub(repl, text)


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return renumber_lambdas(text)


def plans(d):
    return {f[:-len(".txt")].rsplit("_", 1)[0]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(".txt")}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    differ = sorted(n for n in a.keys() | b.keys()
                    if n not in a or n not in b
                    or normalized(a[n]) != normalized(b[n]))
    for n in differ:
        side = "only in A" if n not in b else "only in B" if n not in a else "differs"
        print(f"{n}: {side}")
    print(f"{len(a)} vs {len(b)} plans, {len(differ)} differing")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
