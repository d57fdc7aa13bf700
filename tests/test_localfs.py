"""The local factory's file:// filesystem (jvm/, session.LOCALFS_CONF).

- A pipeline run in a get_spark session starts no ``chmod`` process:
  a logging shim first on PATH is never called.
- It writes what the stock LocalFileSystem writes: the same mode on
  every file and directory, the .crc files, checksum verification on
  read, and a sticky-bit mode.
- The committed jar was built from the committed source.
- Every Spark job ``run_pipeline`` submits carries a ``stats:`` job
  description, in both stage and cache modes.
"""

import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

import pytest

from stats_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NEW = "statsspark.fs.NoSpawnLocalFileSystem"
STOCK = "org.apache.hadoop.fs.LocalFileSystem"


def _build_module():
    spec = importlib.util.spec_from_file_location(
        "localfs_build", os.path.join(REPO, "jvm", "build.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------- child

PROBE = """
import json, os, shutil, sys, time
from stats_spark.plans import pipeline
from stats_spark.session import get_spark

corpus, work = json.loads(sys.argv[1]), sys.argv[2]
spark = get_spark("localfs-probe", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
marks = [time.time()]
# cache: a fresh run writes the battles checkpoint and every sink
pipeline.run_pipeline(spark, corpus, os.path.join(work, "cache"),
                      materialize="cache")
marks.append(time.time())
# stage: the reports resumed from that checkpoint
shutil.copytree(os.path.join(work, "cache", "battles"),
                os.path.join(work, "stage", "battles"))
pipeline.run_pipeline(spark, corpus, os.path.join(work, "stage"),
                      resume=True, materialize="stage",
                      sinks=["usage", "battle_counts"])
marks.append(time.time())
spark.stop()
print("PROBE", json.dumps(marks))
"""


@pytest.fixture(scope="module")
def probe(t1, tmp_path_factory):
    """One child get_spark session, with a logging ``chmod`` shim first
    on PATH and the event log on, runs a cache-mode pipeline and then a
    stage-mode resume.  Returns the shim's calls and each run's job
    descriptions from the event log."""
    tmp = tmp_path_factory.mktemp("localfs_probe")
    shim_dir, log = tmp / "shim", str(tmp / "chmod.log")
    shim_dir.mkdir()
    shim = shim_dir / "chmod"
    shim.write_text(f'#!/bin/sh\necho "$*" >> {log}\n'
                    f'exec {shutil.which("chmod")} "$@"\n')
    os.chmod(shim, 0o755)
    script = tmp / "probe.py"
    script.write_text(PROBE)
    evlog = str(tmp / "evlog")
    env = dict(os.environ,
               PATH=f"{shim_dir}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
               PYSPARK_PYTHON=sys.executable,
               STATS_SPARK_DRIVER_MEM="1g",
               STATS_SPARK_LOCAL_DIR=str(tmp / "local"),
               STATS_SPARK_EVLOG=evlog)
    r = subprocess.run([sys.executable, str(script), json.dumps(t1),
                        str(tmp / "work")],
                       capture_output=True, text=True, timeout=900, env=env)
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("PROBE ")]
    assert line, r.stdout[-2000:]
    marks = json.loads(line[0][len("PROBE "):])
    jobs = []
    for path in os.listdir(evlog):
        with open(os.path.join(evlog, path)) as f:
            for ln in f:
                ev = json.loads(ln)
                if ev["Event"] == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"] / 1000.0,
                                 (ev.get("Properties") or {}).get(
                                     "spark.job.description")))
    runs = {"cache": (marks[0], marks[1]), "stage": (marks[1], marks[2])}
    spawns = []
    if os.path.exists(log):
        with open(log) as f:
            spawns = f.read().splitlines()
    return dict(
        spawns=spawns,
        jobs={mode: [d for t, d in jobs if lo <= t <= hi]
              for mode, (lo, hi) in runs.items()},
        outside=[d for t, d in jobs if not marks[0] <= t <= marks[2]])


def test_pipeline_spawns_no_chmod(probe):
    # the stock local filesystem runs one chmod per directory, part,
    # .crc and _SUCCESS file written: hundreds per run
    assert probe["spawns"] == []


@pytest.mark.parametrize("mode", ["cache", "stage"])
def test_every_pipeline_job_names_its_layer(probe, mode):
    descs = probe["jobs"][mode]
    assert descs, "no Spark jobs in the event log"
    bad = [d for d in descs
           if not re.fullmatch(r"stats:(checkpoint|hold|sink):\w+", d or "")]
    assert not bad, bad
    # the run's own checkpoint, intermediates, sinks and ladder
    want = {"cache": {"stats:checkpoint:battles", "stats:hold:mons",
                      "stats:hold:side_class", "stats:hold:mons_w",
                      "stats:hold:sides_w", "stats:hold:battles_w",
                      "stats:sink:usage_tagged", "stats:sink:usage",
                      "stats:sink:viability", "stats:sink:rejects"},
            "stage": {"stats:checkpoint:battles", "stats:hold:mons",
                      "stats:hold:side_class", "stats:hold:battles_w",
                      "stats:sink:usage", "stats:sink:battle_counts",
                      "stats:sink:rejects"}}
    assert want[mode] <= set(descs)
    assert probe["outside"] == []


# ---------------------------------------------------------- same modes

def _fs_conf(impl: str) -> dict:
    # per-write Hadoop options; disabling the cache makes each write
    # and read instantiate ``impl`` instead of reusing a cached file://
    return {"fs.file.impl": impl, "fs.file.impl.disable.cache": "true"}


def _tree(root: str) -> dict:
    """relative path (part-file ids masked) → mode, for ``root`` and
    everything under it"""
    out = {".": os.stat(root).st_mode}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            full = os.path.join(d, name)
            rel = re.sub(r"part-\d+-[0-9a-f-]+", "part-X",
                         os.path.relpath(full, root))
            out[rel] = os.stat(full).st_mode
    return out


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("localfs_modes")
    df = spark.range(300).selectExpr("id % 3 AS a", "id % 2 AS b", "id",
                                     "repeat('x', 2000) AS pad")
    out = {}
    for impl in (STOCK, NEW):
        path = str(base / impl.rsplit(".", 1)[1])
        (df.repartition(2).write.options(**_fs_conf(impl))
         .partitionBy("a", "b").parquet(path))
        out[impl] = path
    return out


def test_fs_impl_resolves(spark):
    jvm = spark._jvm
    for impl in (STOCK, NEW):
        conf = jvm.org.apache.hadoop.conf.Configuration(
            spark._jsc.hadoopConfiguration())
        for k, v in _fs_conf(impl).items():
            conf.set(k, v)
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), conf)
        assert fs.getClass().getName() == impl


def test_same_modes_and_crc_files(written):
    stock, new = _tree(written[STOCK]), _tree(written[NEW])
    assert new == stock
    parts = [p for p in new if p.endswith(".parquet")
             and not os.path.basename(p).startswith(".")]
    # two levels of partition directories, two part files in some
    assert len(parts) >= 6 and all(p.count(os.sep) == 2 for p in parts)
    for p in parts + ["_SUCCESS"]:
        d, f = os.path.split(p)
        assert os.path.join(d, f".{f}.crc") in new, p


@pytest.mark.parametrize("impl", [STOCK, NEW])
def test_corrupt_part_file_fails_checksum(spark, written, tmp_path, impl):
    path = str(tmp_path / "copy")
    shutil.copytree(written[impl], path)
    part = next(os.path.join(d, f) for d, _, fs in sorted(os.walk(path))
                for f in sorted(fs)
                if f.endswith(".parquet") and not f.startswith("."))
    with open(part, "r+b") as f:
        f.seek(os.path.getsize(part) // 2)
        b = f.read(1)
        f.seek(-1, 1)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.options(**_fs_conf(impl)).parquet(path).collect()


def test_sticky_and_plain_modes(spark, tmp_path):
    jvm = spark._jvm
    # the local factory's default filesystem, through getLocal's cast
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == NEW
    for mode in ("1755", "0750", "0640", "1777"):
        p = str(tmp_path / f"d{mode}")
        os.mkdir(p)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(p),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(
                             mode))
        assert os.stat(p).st_mode & 0o7777 == int(mode, 8), mode
        perm = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(p)) \
            .getPermission()
        assert perm.getStickyBit() == mode.startswith("1"), mode


# -------------------------------------------------------- jar vs source

def _manifest(jar: str) -> dict:
    with zipfile.ZipFile(jar) as z:
        text = z.read("META-INF/MANIFEST.MF").decode()
    return dict(ln.split(": ", 1) for ln in text.splitlines() if ": " in ln)


def _classes(jar: str) -> dict:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def test_committed_jar_matches_source():
    build = _build_module()
    assert session.LOCALFS_JAR == build.JAR
    assert _manifest(build.JAR)["Source-SHA256"] == build.source_sha256()
    assert f"{NEW.replace('.', '/')}.class" in _classes(build.JAR)


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
def test_source_rebuilds_and_loads(spark, tmp_path):
    build = _build_module()
    jar = build.build(str(tmp_path / "localfs.jar"))
    committed = _manifest(build.JAR)
    assert _manifest(jar)["Source-SHA256"] == committed["Source-SHA256"]
    if _manifest(jar)["Javac"] == committed["Javac"]:
        # same compiler, same source: same class bytes
        assert _classes(jar) == _classes(build.JAR)
    # load the rebuilt class beside Hadoop's API only (not through the
    # session's class path, which already holds the committed jar)
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    urls = gw.new_array(jvm.java.net.URL, 2)
    for i, p in enumerate((jar, build.hadoop_api_jar())):
        urls[i] = jvm.java.io.File(p).toURI().toURL()
    loader = jvm.java.net.URLClassLoader(
        urls, jvm.java.lang.ClassLoader.getPlatformClassLoader())
    cls = jvm.java.lang.Class.forName(NEW, False, loader)
    assert cls.getClassLoader().equals(loader)
    base = loader.loadClass(STOCK)
    assert base.isAssignableFrom(cls)
