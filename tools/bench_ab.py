#!/usr/bin/env python3
"""Interleaved A/B of two checkouts: per-query `graft.Bench`, or a perfbench workload.

Usage:
  python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR --pairs N
      [--only q,...] [--sf DIR] [--cpus C]
  python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR --pairs N
      --perfbench WORKLOAD [--seed S]

Each pair runs once in each checkout (a fresh JVM per run); even pairs run
the parent first, odd pairs the change first.

Bench mode runs `sbt runMain graft.Bench` with the offline sbt options of
the Tier-1 command. Both checkouts are compiled before the first pair, so
no run pays a compile. `--only` sets SPARK_GRAFT_ONLY, `--sf`
SPARK_GRAFT_SF_DIR (Bench's own default when absent) and `--cpus`
SPARK_GRAFT_CPUS (default: the CPU count). A run's JSON is its last stdout
line: sbt prints a forked program's stdout as `[info] <line>`, and Bench
prints its JSON line last. Prints, per query and for the total: the median
seconds on each side, the median of the pair differences (change - parent)
and the largest `query_steal` of any run. Exits non-zero when a run's last
line is not JSON or its `failed` list is not empty.

Perfbench mode runs `python3 perfbench/run.py --workload W --seed S
--seconds T --trace 0` (seed 1 by default), with T the `run_seconds` of
the parent's `BENCHMARK.json`, so both sides run the benchmark's own run
length; each checkout builds itself on its first run. Prints, per
end-to-end metric of that `BENCHMARK.json` and for `failed_frac`: each
side's median and quartiles, the median of the pair differences, in how
many pairs the change was better (in the metric's `better` direction) and
the largest `host.steal_cores` of any run. Exits non-zero when a run fails
or prints no JSON.
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


def last_json(checkout, lines):
    """The JSON record on the last of `lines`."""
    last = lines[-1] if lines else ''
    try:
        return json.loads(last)
    except ValueError:
        sys.exit(f'{checkout}: the last stdout line is not JSON: {last!r}')


def bench(checkout, env):
    """The Bench JSON record of one run in `checkout`."""
    rec = last_json(checkout, [line[len('[info] '):]
                               for line in sbt(checkout, env, 'runMain graft.Bench')
                               if line.startswith('[info] ')])
    if rec.get('failed'):
        sys.exit(f'{checkout}: failed queries {rec["failed"]}')
    return rec


def perfbench(checkout, workload, seed, seconds):
    """Metric values of one untraced perfbench run in `checkout`: its
    end-to-end metrics, `failed_frac` and the `host.steal_cores` it printed."""
    out = subprocess.run(['python3', 'perfbench/run.py', '--workload', workload,
                          '--seed', str(seed), '--seconds', str(seconds), '--trace', '0'],
                         cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        sys.exit(f'perfbench {workload} failed in {checkout} (exit {out.returncode})')
    lines = out.stdout.splitlines()
    rec = last_json(checkout, lines)
    values = {name: m['value'] for name, m in rec['metrics'].items()}
    values['failed_frac'] = rec['failed'] / max(1, rec['attempted'])
    values['host.steal_cores'] = next(
        (float(line.split()[1]) for line in lines if line.startswith('host.steal_cores ')), float('nan'))
    return values


def interleave(sides, pairs, run, describe):
    """`pairs` runs per side, alternating which side runs first."""
    runs = {side: [] for side in sides}
    for i in range(pairs):
        order = ['parent', 'change'] if i % 2 == 0 else ['change', 'parent']
        for side in order:
            rec = run(sides[side])
            runs[side].append(rec)
            print(f'pair {i + 1} {side}: {describe(rec)}', flush=True)
    return runs


def quartiles(xs):
    """(q1, median, q3) of `xs`."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method='inclusive')
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('parent')
    ap.add_argument('change')
    ap.add_argument('--pairs', type=int, required=True)
    ap.add_argument('--only')
    ap.add_argument('--sf')
    ap.add_argument('--cpus', type=int, default=os.cpu_count())
    ap.add_argument('--perfbench', metavar='WORKLOAD')
    ap.add_argument('--seed', type=int, default=1)
    a = ap.parse_args()
    sides = {'parent': a.parent, 'change': a.change}

    if a.perfbench:
        with open(os.path.join(a.parent, 'BENCHMARK.json')) as f:
            benchmark = json.load(f)
        metrics = [(m['name'], m['better']) for m in benchmark['end_to_end']]
        metrics.append(('failed_frac', 'lower'))
        runs = interleave(sides, a.pairs,
                          lambda checkout: perfbench(checkout, a.perfbench, a.seed, benchmark['run_seconds']),
                          lambda rec: ', '.join(f'{n} {rec[n]:.6g}'
                                                for n in [m for m, _ in metrics] + ['host.steal_cores']))
        print(f'{a.perfbench} seed {a.seed}, {a.pairs} pairs, largest steal '
              f'{max(r["host.steal_cores"] for side in runs.values() for r in side):.2f} cores')
        print(f'{"metric":<20}{"parent q1/med/q3":>30}{"change q1/med/q3":>30}'
              f'{"diff":>12}{"wins":>7}')
        for name, better in metrics:
            p = [r[name] for r in runs['parent']]
            c = [r[name] for r in runs['change']]
            wins = sum((y > x) if better == 'higher' else (y < x) for x, y in zip(p, c))
            fmt = lambda qs: '/'.join(f'{q:.5g}' for q in qs)
            print(f'{name:<20}{fmt(quartiles(p)):>30}{fmt(quartiles(c)):>30}'
                  f'{statistics.median(y - x for x, y in zip(p, c)):>+12.4g}'
                  f'{wins:>4}/{a.pairs}')
        return

    env = dict(os.environ, COURSIER_MODE='offline',
               SBT_OPTS=os.environ.get('SBT_OPTS') or SBT_OPTS,
               SPARK_GRAFT_CPUS=str(a.cpus))
    if a.only:
        env['SPARK_GRAFT_ONLY'] = a.only
    if a.sf:
        env['SPARK_GRAFT_SF_DIR'] = a.sf
    for checkout in sides.values():
        sbt(checkout, env, 'compile')

    runs = interleave(sides, a.pairs, lambda checkout: bench(checkout, env),
                      lambda rec: f'total {rec["value"]:.2f} s, steal {rec["steal_cores"]:.2f}')

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
