#!/usr/bin/env python3
"""Smoke test of the benchmark. Run from the repository root:

    python3 perfbench/smoke_test.py

Runs every workload on the tiny inputs and checks that each end-to-end
metric prints with its unit and that the outputs pass their checks; runs
both benchmarked workloads at full size for one job with a planted wrong
assignment and checks that it is caught; runs one traced run and checks
that every per-layer metric prints with its unit and that its spans are
kept; runs the operator subset's traced run and checks its per-query
metrics. Takes a few minutes; prints every failure and exits non-zero if there
was one.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / 'BENCHMARK.json').read_text())
BENCHED = {w['name'] for w in SPEC['workloads']}

# end-to-end metrics of the workloads BENCHMARK.json does not name
OTHER = {
    'batch_payload': {'setup_s': 's', 'first_job_s': 's', 'images_per_s': '1/s',
                      'dup_pair_recall': 'ratio', 'dup_pair_precision': 'ratio',
                      'storage_leak_mb': 'MB', 'heap_peak_mb': 'MB'},
    'operator_suite': {'setup_s': 's', 'first_job_s': 's', 'suite_s': 's',
                       'cpu_s': 's', 'shuffle_mb': 'MB', 'storage_peak_mb': 'MB',
                       'storage_leak_mb': 'MB', 'heap_peak_mb': 'MB', 'alloc_mb': 'MB'},
}


# the operator subset, as in perfbench/src/perfbench/Workloads.scala
QUERIES = ('q12_dedup_exact', 'q15_minhash_dup_pairs', 'q16_simhash_dup_pairs',
           'q18_embedding_neardup', 'q54_salted_band_pairs', 'q57_incremental_neardup',
           'q66_dedup_cascade', 'q98_bm25_index_topk', 'q118_rrf_fusion',
           'q125_filter_stack')

FAILURES = []


def fail(msg):
    print(f'FAIL {msg}')
    FAILURES.append(msg)


def run(*args, seconds=1, size='tiny'):
    cmd = [sys.executable, str(ROOT / 'perfbench' / 'run.py'), '--seed', '1',
           '--seconds', str(seconds), '--size', size, *args]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f'FAIL {args}: exit {r.returncode}\n{r.stderr[-3000:]}')
    lines = r.stdout.strip().splitlines()
    checks = [l for l in r.stderr.splitlines() if l.startswith('CHECK FAILED')]
    return lines[:-1], json.loads(lines[-1]), checks


def expect_printed(table, result, wanted, what):
    for name, unit in wanted.items():
        if not any(re.match(rf'\s+{re.escape(name)}\s+\S+\s+{re.escape(unit)}$', l)
                   for l in table):
            fail(f'{what}: {name} [{unit}] not printed')
        if name in result['metrics'] and result['metrics'][name]['unit'] != unit:
            fail(f'{what}: {name} has unit {result["metrics"][name]["unit"]}')


def main():
    e2e = {m['name']: m['unit'] for m in SPEC['end_to_end']}
    for w in ('batch_light', 'incremental_daily', 'batch_payload', 'operator_suite'):
        table, result, checks = run('--workload', w, '--trace', '0')
        # the benchmarked workloads also print the unbounded metrics
        wanted = {**e2e, 'images_per_s': '1/s', 'cpu_s': 's', 'storage_peak_mb': 'MB',
                  'storage_leak_mb': 'MB', 'heap_peak_mb': 'MB'} if w in BENCHED else OTHER[w]
        expect_printed(table, result, {**wanted, 'failed_frac': 'ratio'}, w)
        if w in BENCHED and set(result['metrics']) != set(e2e):
            fail(f'{w}: result metrics {sorted(result["metrics"])}')
        if not result['correct'] or result['failed'] != 0 or result['attempted'] < 1:
            fail(f'{w}: {result["failed"]} of {result["attempted"]} operations failed '
                 f'their checks: {"; ".join(checks)}')
        print(f'done {w}: {len(wanted)} metrics, {result["attempted"]} checked operations')

    # the shape of a benchmark run: full size, one job, the fault in it
    for w in sorted(BENCHED):
        _, result, checks = run('--workload', w, '--trace', '0', '--plant-fault',
                                seconds=10, size='full')
        if result['correct'] or result['failed'] < 1 or result['attempted'] != 1:
            fail(f'{w}: planted wrong assignment not caught: {result}')
        print(f'done {w} planted wrong assignment: {"; ".join(checks)}')

    table, result, _ = run('--workload', 'batch_light', '--trace', '1')
    per_layer = {m['name']: m['unit'] for m in SPEC['per_layer']}
    expect_printed(table, result, per_layer, 'traced run')
    if set(result['metrics']) != set(per_layer):
        fail('traced run: metric set differs from BENCHMARK.json per_layer')
    spans_file = ROOT / '.bench_cache' / 'spans-batch_light-1.jsonl'
    spans = [json.loads(l) for l in spans_file.read_text().splitlines()]
    keys = {'id', 'name', 'parent', 'op', 'start_ns', 'end_ns', 'wall_s', 'self_s'}
    if not spans or any(not keys <= set(s) for s in spans):
        fail(f'traced run: spans in {spans_file} lack one of {sorted(keys)}')
    if not any(s['parent'] >= 0 for s in spans):
        fail('traced run: no nested span')
    print(f'done traced run: {len(per_layer)} per-layer metrics, {len(spans)} spans')

    table, result, _ = run('--workload', 'operator_suite', '--trace', '1')
    wanted = {f'SparkEntry.{q}.{m}': u for q in QUERIES
              for m, u in (('wall_s', 's'), ('cpu_s', 's'), ('jobs', 'count'), ('leak_mb', 'MB'))}
    expect_printed(table, result, wanted, 'operator_suite traced run')
    print(f'done operator_suite traced run: {len(wanted)} per-query metrics')
    if FAILURES:
        sys.exit(f'{len(FAILURES)} failure(s)')


if __name__ == '__main__':
    main()
