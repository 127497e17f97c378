"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the benchmark sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution, packs them into one jar, and records an AppCDS
class archive of a short Spark session (perfbench.ClassArchive) that cuts
about 5 s of JVM start-up from every run. A content stamp skips the build
when no source changed.

    python3 perfbench/build.py [<build dir>]
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        raise BuildError('SPARK_HOME is not set (a Spark 4 distribution is needed)')
    jars = Path(home) / 'jars'
    if not any(jars.glob('scala-compiler-*.jar')):
        raise BuildError(f'no Spark distribution with a Scala compiler at {jars}')
    return jars


def sources():
    engine = ROOT / 'src' / 'main' / 'scala'
    if not engine.is_dir():
        raise BuildError(f'engine sources not found at {engine}')
    found = sorted(engine.rglob('*.scala')) + sorted((HERE / 'src').rglob('*.scala'))
    if not found:
        raise BuildError('no Scala sources found')
    return found


JVM_OPTS = ['-Xmx3g', '-XX:+UseG1GC'] + [
    f'--add-opens=java.base/{m}=ALL-UNNAMED' for m in (
        'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io',
        'java.net', 'java.nio', 'java.util', 'java.util.concurrent',
        'java.util.concurrent.atomic', 'sun.nio.ch', 'sun.nio.cs',
        'sun.security.action', 'sun.util.calendar')]


def classpath(build_dir):
    jars = sorted(str(j) for j in spark_jars().glob('*.jar'))
    return os.pathsep.join([str(Path(build_dir) / 'perfbench.jar')] + jars)


def archive_opts(build_dir):
    """JVM options that use the class archive, if the build made one."""
    jsa = Path(build_dir) / 'perfbench.jsa'
    return [f'-XX:SharedArchiveFile={jsa}', '-Xlog:cds=off'] if jsa.is_file() else []


def compile_jar(build_dir, srcs):
    classes = build_dir / 'perfbench-classes'
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / 'perfbench-sources.txt'
    argfile.write_text('\n'.join(str(s) for s in srcs) + '\n')
    cp = f'{spark_jars()}/*'
    cmd = ['java', '-Xmx2g', '-Xss8m', '-cp', cp, 'scala.tools.nsc.Main',
           '-nowarn', '-d', str(classes), '-classpath', cp, f'@{argfile}']
    print(f'perfbench: compiling {len(srcs)} sources', file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError('scalac failed')
    with zipfile.ZipFile(build_dir / 'perfbench.jar', 'w') as z:
        for f in sorted(classes.rglob('*')):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def dump_archive(build_dir):
    """Record the class archive; a JVM that cannot make one runs without."""
    scratch = build_dir / 'archive-run'
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / 'tmp').mkdir(parents=True)
    cmd = ['java'] + JVM_OPTS + [
        f'-XX:ArchiveClassesAtExit={build_dir / "perfbench.jsa"}',
        '-Xlog:cds=off', '-Xlog:cds+dynamic=off', f'-Djava.io.tmpdir={scratch / "tmp"}',
        f'-Dlog4j2.configurationFile={HERE / "log4j2.properties"}',
        '-cp', classpath(build_dir), 'perfbench.ClassArchive', str(scratch)]
    print('perfbench: recording the class archive', file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=subprocess.DEVNULL)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0:
        (build_dir / 'perfbench.jsa').unlink(missing_ok=True)


def build(build_dir):
    """Build if needed; return the build directory."""
    build_dir = Path(build_dir)
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    h.update(classpath(build_dir).encode())
    stamp = h.hexdigest()
    stamp_file = build_dir / 'perfbench.stamp'
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return build_dir
    build_dir.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    (build_dir / 'perfbench.jsa').unlink(missing_ok=True)
    compile_jar(build_dir, srcs)
    dump_archive(build_dir)
    stamp_file.write_text(stamp)
    return build_dir


if __name__ == '__main__':
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / '.bench_build'))
    except BuildError as e:
        sys.exit(f'perfbench build failed: {e}')
