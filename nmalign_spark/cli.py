"""CLI surface: force-align two lists of strings, reference-compatible.

Re-derivation of the reference's ``nmalign`` command
(/root/reference/nmalign/scripts/cli.py:10-126) on argparse (no click/cloup
dependency): same option names, same mutually-exclusive input groups
(--strings*/--files*/--filelist*), same output contract — one line per l1
element ``a<sep>b<sep>%.2f[<sep>beg<sep>end]`` on stdout and the three
percentage aggregates on stderr (cli.py:93-126).  ``-i/--interactive``
works in LOCAL mode only (SURVEY.md §2.10 U3: the distributed operators
never prompt — no interactive executor I/O — so ``--spark -i`` is
rejected).

Two execution modes:

* default — run the kernel locally (the reference is a single-process tool;
  small lists don't need a cluster);
* ``--spark`` — run the same lists through ``align_cogrouped`` (the two
  tables side-tagged into ``align_segments``' streaming kernel) on a local
  SparkSession: identical output (operators are bit-identical; see
  tests/test_cli.py), useful as a smoke of the cluster path.

Usage::

    python -m nmalign_spark.cli --strings1 a b c --strings2 x y -x -s
"""

from __future__ import annotations

import argparse
import json
import sys

__all__ = ["main"]


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="nmalign-spark",
        description="Force-align two lists of strings (fuzzy, monotonic).")
    ap.add_argument("-i", "--interactive", action="store_true",
                    help="prompt for each assigned pair (local mode only)")
    ap.add_argument("-c", "--cutoff", type=float, default=0.0,
                    help="minimum score")
    ap.add_argument("-j", "--processes", type=int, default=1,
                    help="accepted for reference parity; parallelism comes "
                         "from Spark partitioning (--spark) instead")
    ap.add_argument("-N", "--normalization", default=None,
                    help="JSON object of regex pattern -> replacement, "
                         "applied before comparison")
    ap.add_argument("-x", "--allow-splits", action="store_true",
                    help="find multiple submatches if replacement scores low")
    shown = ap.add_mutually_exclusive_group()
    shown.add_argument("-s", "--show-strings", action="store_true",
                       help="print strings instead of indices")
    shown.add_argument("-f", "--show-files", action="store_true",
                       help="print file names instead of indices")
    ap.add_argument("-S", "--separator", default="\t",
                    help="column separator (default: tab)")
    ap.add_argument("--spark", action="store_true",
                    help="execute through the Spark two-table align operator")
    g1 = ap.add_mutually_exclusive_group(required=True)
    g1.add_argument("--strings1", nargs="+", help="list 1 as strings")
    g1.add_argument("--files1", nargs="+", help="list 1 as files of strings")
    g1.add_argument("--filelist1", help="file listing files of strings")
    g2 = ap.add_mutually_exclusive_group(required=True)
    g2.add_argument("--strings2", nargs="+", help="list 2 as strings")
    g2.add_argument("--files2", nargs="+", help="list 2 as files of strings")
    g2.add_argument("--filelist2", help="file listing files of strings")
    return ap


def _load_side(strings, files, filelist):
    if strings:
        return list(strings), None
    if filelist:
        with open(filelist, encoding="utf-8") as f:
            files = [ln.strip() for ln in f if ln.strip()]
    texts = []
    for fn in files:
        with open(fn, encoding="utf-8") as f:
            texts.append(f.read())
    return texts, list(files)


_TRUE = {"", "y", "yes", "true", "t", "on", "1"}
_FALSE = {"n", "no", "false", "f", "off", "0"}


def _prompt(text: str) -> bool:
    """click-BOOL-compatible prompt: accepts y/yes/t/true/on/1 and
    n/no/f/false/off/0, re-asks on anything else, aborts on EOF (the
    reference's click.prompt raises Abort there — never fabricate
    approvals from a drained stdin)."""
    while True:
        sys.stderr.write(text + "? [Y/n] ")
        sys.stderr.flush()
        line = sys.stdin.readline()
        if line == "":              # EOF
            sys.stderr.write("\nAborted!\n")
            raise SystemExit(1)
        ans = line.strip().lower()
        if ans in _TRUE:
            return True
        if ans in _FALSE:
            return False
        sys.stderr.write(f"Error: {ans!r} is not a valid boolean.\n")


def _match_local(l1, l2, normalization, cutoff, allow_splits,
                 interactive=False):
    from .kernel.assign import match
    return match(l1, l2, normalization=normalization,
                 cutoff=cutoff or None, try_subseg=allow_splits,
                 interactive=_prompt if interactive else None)


def _match_spark(l1, l2, normalization, cutoff, allow_splits):
    """Same lists through the distributed operator; returns the reference
    (result, scores) shape rebuilt from the alignment table."""
    import numpy as np
    from pyspark.sql import SparkSession

    from .operators.align import align_cogrouped
    spark = (SparkSession.builder.master("local[*]")
             .appName("nmalign-spark-cli")
             .config("spark.ui.enabled", "false").getOrCreate())
    cand = spark.createDataFrame(
        [("cli", i, s) for i, s in enumerate(l1)],
        "url string, seq_no int, seg_text string")
    refs = spark.createDataFrame(
        [("cli", j, s) for j, s in enumerate(l2)],
        "url string, seq_no int, seg_text string")
    rows = align_cogrouped(cand, refs, normalization=normalization,
                           cutoff=cutoff or None,
                           try_subseg=allow_splits).collect()
    n = len(l1)
    idx = -1 * np.ones(n, dtype=int)
    beg = -1 * np.ones(n, dtype=int)
    end = -1 * np.ones(n, dtype=int)
    scores = np.zeros(n, dtype=np.float32)
    for r in rows:
        idx[r.i], beg[r.i], end[r.i] = r.j, r.beg, r.end
        scores[r.i] = r.score
    result = np.stack([idx, beg, end]) if allow_splits else idx
    return result, scores


def main(argv=None) -> int:
    args = _build_parser().parse_args(argv)
    # option validation matching the reference's cloup ranges
    # (scripts/cli.py:12-13: FloatRange(0, 1) for -c, IntRange(1, 32) for -j):
    # a silently-accepted cutoff > 1 would produce an all-unmatched result
    # instead of a usage error.
    if not 0.0 <= args.cutoff <= 1.0:
        print(f"Error: Invalid value for '-c' / '--cutoff': {args.cutoff} "
              "is not in the range 0<=x<=1.", file=sys.stderr)
        return 2
    if not 1 <= args.processes <= 32:
        print(f"Error: Invalid value for '-j' / '--processes': "
              f"{args.processes} is not in the range 1<=x<=32.",
              file=sys.stderr)
        return 2
    if args.interactive and args.spark:
        print("-i/--interactive is local-only (no executor I/O)",
              file=sys.stderr)
        return 2
    l1, files1 = _load_side(args.strings1, args.files1, args.filelist1)
    l2, files2 = _load_side(args.strings2, args.files2, args.filelist2)
    if args.show_files and (files1 is None or files2 is None):
        print("-f/--show-files requires --files*/--filelist* inputs",
              file=sys.stderr)
        return 2
    normalization = json.loads(args.normalization) if args.normalization else None
    if args.spark:
        res, dst = _match_spark(l1, l2, normalization, args.cutoff,
                                args.allow_splits)
    else:
        res, dst = _match_local(l1, l2, normalization, args.cutoff,
                                args.allow_splits,
                                interactive=args.interactive)
    if args.allow_splits:
        res_ind, res_beg, res_end = res
    else:
        res_ind = res
        res_beg = res_end = None
    scores = []
    match1: set[int] = set()
    match2: set[int] = set()
    sep = args.separator
    for ind1, ind2 in enumerate(res_ind):
        ind2 = int(ind2)
        score = float(dst[ind1])
        if ind2 >= 0:
            scores.append(score)
        has_span = (args.allow_splits and res_beg[ind1] >= 0
                    and res_end[ind1] >= 0)
        if args.show_strings:
            if ind2 < 0:
                continue
            a = l1[ind1]
            b = l2[ind2]
            if has_span:
                b = b[res_beg[ind1]:res_end[ind1]]
        elif args.show_files:
            if ind2 < 0:
                continue
            a = files1[ind1]
            b = files2[ind2]
        else:
            a = str(ind1)
            b = str(ind2)
        msg = a + sep + b + sep + "%.2f" % score
        if has_span:
            msg += sep + str(int(res_beg[ind1])) + sep + str(int(res_end[ind1]))
        print(msg)
        if ind2 < 0:
            continue
        match1.add(ind1)
        match2.add(ind2)
    if scores:
        print("average alignment confidence: %d%%"
              % (100 * sum(scores) / len(scores)), file=sys.stderr)
    print("coverage of matching inputs1: %d%%"
          % (100 * len(match1) / len(l1)), file=sys.stderr)
    print("coverage of matching inputs2: %d%%"
          % (100 * len(match2) / len(l2)), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
