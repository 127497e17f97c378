#!/usr/bin/env python3
"""Benchmark of the image near-duplicate engine. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM (local[nproc]), checks its outputs, and prints a
human-readable table followed, as the last line of standard output, by one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import struct
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ('batch_payload', 'batch_light', 'incremental_daily', 'operator_suite')
JVM_TIMEOUT_S = 170  # both JVMs of a run together: keeps it under three minutes


def spec():
    return json.loads((ROOT / 'BENCHMARK.json').read_text())


def declared(trace):
    return [m['name'] for m in spec()['per_layer' if trace else 'end_to_end']]


def run_jvm(args, workload, build_dir, work, result, deadline, prepare=False):
    cache = ROOT / '.bench_cache'
    tmp = work / 'tmp'
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ['java'] + build.JVM_OPTS + build.archive_opts(build_dir) + [
        f'-Djava.io.tmpdir={tmp}',
        f'-Dlog4j2.configurationFile={HERE / "log4j2.properties"}',
        '-cp', build.classpath(build_dir), 'perfbench.BenchMain',
        '--workload', workload, '--seed', str(args.seed),
        '--seconds', str(args.seconds), '--trace', str(args.trace),
        '--size', args.size, '--cpus', str(len(os.sched_getaffinity(0))),
        '--cache', str(cache), '--work', str(work), '--result', str(result)]
    if args.plant_fault:
        cmd.append('--plant-fault')
    if prepare:
        cmd.append('--prepare')
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        return proc.wait(timeout=max(0.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return -1
    finally:
        # also on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def tok(v):
    """Bit-exact, totally ordered token of one value (floats by bit pattern)."""
    if v is None:
        return 'n'
    if isinstance(v, bool):
        return f'B:{v}'
    if isinstance(v, float):
        return 'f:' + struct.pack('>d', v).hex()
    if isinstance(v, int):
        return f'i:{v:+025d}'
    if isinstance(v, (list, tuple)):
        return 'l:[' + ','.join(tok(x) for x in v) + ']'
    if isinstance(v, dict):
        return 'd:{' + ','.join(f'{k}={tok(x)}' for k, x in sorted(v.items())) + '}'
    return f't:{type(v).__name__}:{v}'


def canon(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(tok(r[i]) for i in order) for r in cur.fetchall())
    return sorted(cols), rows


def oracle_mismatches(work):
    """Compare the first suite pass with the DuckDB oracle SQL of each query.
    Returns the names of the queries that differ."""
    import duckdb
    spec = json.loads((work / 'oracle.json').read_text())
    con = duckdb.connect()
    for t in ('documents', 'embeddings'):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{spec['data']}/{t}.parquet/*.parquet'")
    bad = []
    for name, sql in sorted(spec['sql'].items()):
        try:
            want = canon(con.execute(sql))
            got = canon(con.execute(f"SELECT * FROM '{spec['outputs']}/{name}/*.parquet'"))
            ok = want == got
        except Exception as e:  # a query the oracle cannot read is a mismatch
            print(f'oracle {name}: {e}', file=sys.stderr)
            ok = False
        if not ok:
            bad.append(name)
    return bad


def table(workload, trace, metrics, notes, attempted, failed):
    print(f'perfbench {workload} (trace={trace})')
    for name, m in metrics.items():
        print(f'  {name:<58} {m["value"]:>14.6g} {m["unit"]}')
    if not trace:
        print(f'  {"failed_frac":<58} {failed / max(1, attempted):>14.6g} ratio')
    for k, v in notes.items():
        print(f'  note {k} = {v}')


def run_one(args, workload, build_dir):
    """Run one workload; return (correct, attempted, failed, metrics)."""
    work = ROOT / '.bench_cache' / 'runs' / f'{workload}-{args.seed}-{args.trace}-{os.getpid()}'
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = work / 'result.json'
    deadline = time.monotonic() + JVM_TIMEOUT_S
    # inputs are generated in a JVM of their own, so that every measuring
    # JVM starts from the same state whether or not its seed is cached
    ready = ROOT / '.bench_cache' / f'ready-{workload}-{args.size}-{args.seed}-{args.trace}'
    traced_ready = ready.with_name(ready.name[:-1] + '1')  # a superset of the inputs
    try:
        if not ready.is_file() and not traced_ready.is_file():
            code = run_jvm(args, workload, build_dir, work, ready, deadline, prepare=True)
            if code != 0 or not ready.is_file():
                sys.exit(f'perfbench: input generation JVM exited with {code}')
        code = run_jvm(args, workload, build_dir, work, result, deadline)
        if code != 0 or not result.is_file():
            sys.exit(f'perfbench: benchmark JVM exited with {code}')
        res = json.loads(result.read_text())
        attempted, failed = res['attempted'], res['failed']
        if workload == 'operator_suite' and not args.trace:
            bad = oracle_mismatches(work)
            for q in bad:
                print(f'CHECK FAILED: oracle mismatch: {q}', file=sys.stderr)
            attempted += len(json.loads((work / 'oracle.json').read_text())['sql'])
            failed += len(bad)
        got = res['metrics']
        # the workloads BENCHMARK.json names report exactly its metrics
        if workload in [w['name'] for w in spec()['workloads']]:
            names = declared(args.trace)
            missing = [n for n in names if n not in got]
            if missing:
                sys.exit(f'perfbench: metrics not produced: {", ".join(missing)}')
            metrics = {n: got[n] for n in names}
        else:
            metrics = got
        table(workload, args.trace, got, res['notes'], attempted, failed)
        if args.trace:
            spans = ROOT / '.bench_cache' / f'spans-{workload}-{args.seed}.jsonl'
            shutil.move(str(work / 'spans.jsonl'), spans)
            print(f'  spans: {spans.relative_to(ROOT)}')
        return failed == 0, max(1, attempted), failed, metrics
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    p.add_argument('--workload', required=True, choices=WORKLOADS + ('all',))
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--size', choices=('full', 'tiny'), default='full',
                   help='input scale; tiny is for the smoke test')
    p.add_argument('--plant-fault', action='store_true',
                   help='corrupt one assignment of the first job (smoke test)')
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build_dir = Path(os.environ.get('CARGO_TARGET_DIR') or '.bench_build')
    if not build_dir.is_absolute():
        build_dir = ROOT / build_dir
    try:
        spec()
        build.build(build_dir)
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit(f'perfbench: cannot build: {e}')

    if args.workload != 'all':
        correct, attempted, failed, metrics = run_one(args, args.workload, build_dir)
    else:
        # every workload at this seed, one JVM each
        correct, attempted, failed, metrics = True, 0, 0, {}
        for w in WORKLOADS:
            c, a, f, m = run_one(args, w, build_dir)
            correct, attempted, failed = correct and c, attempted + a, failed + f
            metrics.update({f'{w}.{k}': v for k, v in m.items()})
    print(json.dumps({'correct': correct, 'attempted': attempted,
                      'failed': failed, 'metrics': metrics}))


if __name__ == '__main__':
    main()
