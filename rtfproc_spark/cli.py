"""CLI round trip — the reference's third entry point (test/letter.c:21-56):
stdin/stdout capable, files when arguments given.

    python -m rtfproc_spark [INPUT [OUTPUT]] [--replace KEY=VALUE ...]
                            [--text-out PATH] [--strip]

Byte-exact with the reference test programs:
    python -m rtfproc_spark letter-input.rtf out.rtf \\
        --replace '«Client Rank»=Colonel' ...
"""

from __future__ import annotations

import argparse
import sys

from .kernel import RTFEngine, compile_replacements


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="rtfproc_spark")
    ap.add_argument("input", nargs="?", help="input RTF (default stdin)")
    ap.add_argument("output", nargs="?", help="output RTF (default stdout)")
    ap.add_argument(
        "--replace",
        action="append",
        default=[],
        metavar="KEY=VALUE",
        help="replacement pair (repeatable; insertion order preserved)",
    )
    ap.add_argument("--text-out", help="also write extracted plain text here")
    ap.add_argument(
        "--strip", action="store_true", help="write plain text instead of RTF"
    )
    args = ap.parse_args(argv)

    pairs = []
    for kv in args.replace:
        k, sep, v = kv.partition("=")
        if not sep:
            ap.error(f"--replace needs KEY=VALUE, got {kv!r}")
        pairs.append((k, v))
    rs = compile_replacements(pairs)

    data = (
        open(args.input, "rb").read() if args.input else sys.stdin.buffer.read()
    )
    rtf_out, plain, err = RTFEngine(rs).run(data)
    payload = plain if args.strip else rtf_out
    if args.output:
        with open(args.output, "wb") as f:
            f.write(payload)
    else:
        sys.stdout.buffer.write(payload)
    if args.text_out:
        with open(args.text_out, "wb") as f:
            f.write(plain)
    if err:
        print(f"rtfproc_spark: {err}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
