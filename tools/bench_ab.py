#!/usr/bin/env python3
"""Interleaved per-query A/B of `graft.Bench` between two checkouts.

Usage:
  python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR --pairs N
      [--only q,...] [--sf DIR] [--cpus C]

Each pair runs `sbt runMain graft.Bench` once in each checkout (a fresh
JVM per run), with the offline sbt options of the Tier-1 command; even
pairs run the parent first, odd pairs the change first. Both checkouts
are compiled before the first pair, so no run pays a compile.

`--only` sets SPARK_GRAFT_ONLY, `--sf` SPARK_GRAFT_SF_DIR (Bench's own
default when absent) and `--cpus` SPARK_GRAFT_CPUS (default: the CPU
count). A run's JSON is its last stdout line: sbt prints a forked
program's stdout as `[info] <line>`, and Bench prints its JSON line last.

Prints, per query and for the total: the median seconds on each side,
the median of the pair differences (change - parent) and the largest
`query_steal` of any run. Exits non-zero when a run's last line is not
JSON or its `failed` list is not empty.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SBT_OPTS = ('-Dsbt.override.build.repos=true '
            f'-Dsbt.repository.config={os.path.expanduser("~/.sbt/repositories")} '
            '-Dsbt.offline=true -Xmx4g')


def sbt(checkout, env, *commands):
    """stdout lines of one `sbt --batch` call in `checkout`."""
    out = subprocess.run(['sbt', '--batch', '-Dsbt.log.noformat=true', *commands],
                         cwd=checkout, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f'sbt {" ".join(commands)} failed in {checkout} '
                 f'(exit {out.returncode})')
    return out.stdout.splitlines()


def bench(checkout, env):
    """The Bench JSON record of one run in `checkout`."""
    program = [line[len('[info] '):] for line in sbt(checkout, env, 'runMain graft.Bench')
               if line.startswith('[info] ')]
    last = program[-1] if program else ''
    try:
        rec = json.loads(last)
    except ValueError:
        sys.exit(f'{checkout}: the last stdout line is not JSON: {last!r}')
    if rec.get('failed'):
        sys.exit(f'{checkout}: failed queries {rec["failed"]}')
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('parent')
    ap.add_argument('change')
    ap.add_argument('--pairs', type=int, required=True)
    ap.add_argument('--only')
    ap.add_argument('--sf')
    ap.add_argument('--cpus', type=int, default=os.cpu_count())
    a = ap.parse_args()

    env = dict(os.environ, COURSIER_MODE='offline',
               SBT_OPTS=os.environ.get('SBT_OPTS') or SBT_OPTS,
               SPARK_GRAFT_CPUS=str(a.cpus))
    if a.only:
        env['SPARK_GRAFT_ONLY'] = a.only
    if a.sf:
        env['SPARK_GRAFT_SF_DIR'] = a.sf
    sides = {'parent': a.parent, 'change': a.change}
    for checkout in sides.values():
        sbt(checkout, env, 'compile')

    runs = {'parent': [], 'change': []}
    for i in range(a.pairs):
        order = ['parent', 'change'] if i % 2 == 0 else ['change', 'parent']
        for side in order:
            rec = bench(sides[side], env)
            runs[side].append(rec)
            print(f'pair {i + 1} {side}: total {rec["value"]:.2f} s, '
                  f'steal {rec["steal_cores"]:.2f}', flush=True)

    def seconds(rec, q):
        return rec['value'] if q == 'total' else rec['queries'][q]

    def steal(rec, q):
        return rec['steal_cores'] if q == 'total' else rec['query_steal'][q]

    queries = sorted(runs['parent'][0]['queries']) + ['total']
    print(f'{"query":<28}{"parent_s":>10}{"change_s":>10}{"diff_s":>10}{"max_steal":>11}')
    for q in queries:
        p = [seconds(r, q) for r in runs['parent']]
        c = [seconds(r, q) for r in runs['change']]
        worst = max(steal(r, q) for side in runs.values() for r in side)
        print(f'{q:<28}{statistics.median(p):>10.3f}{statistics.median(c):>10.3f}'
              f'{statistics.median(y - x for x, y in zip(p, c)):>+10.3f}{worst:>11.2f}')


if __name__ == '__main__':
    main()
