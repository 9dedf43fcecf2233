"""Import footprint and worker importability.

Python workers unpickle one package object at a time — a UDF, a data
source, the streaming-source runner's reader — so importing one module
must not import the key modules it does not use, and the package must
reach the workers whatever the driver's working directory.  Each check
runs in a fresh interpreter, where nothing has been imported yet."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# module -> the package modules importing it may load, besides what
# ``import lstore_spark`` itself loads (_PACKAGE)
_DEPENDENCIES = {
    "lstore_spark.sources.lstore_log": {"sources", "sources.lstore_log"},
    "lstore_spark.sources.avro_io": {"sources", "sources.avro_io"},
    "lstore_spark.llm.text": {"llm", "llm.hashing", "llm.text", "numerics"},
}
_PACKAGE = {"", "catalog", "registry", "session"}


def _fresh(code: str, cwd: str = ROOT, env: dict | None = None,
           timeout: int = 120) -> str:
    """stdout of ``code`` run by a fresh interpreter."""
    r = subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                       capture_output=True, text=True, timeout=timeout)
    assert r.returncode == 0, r.stderr[-4000:]
    return r.stdout


@pytest.mark.parametrize("module", sorted(_DEPENDENCIES))
def test_module_import_loads_only_its_dependencies(module):
    loaded = json.loads(_fresh(
        f"import json, sys, {module}\nprint(json.dumps(sorted(sys.modules)))"))
    ours = {m.removeprefix("lstore_spark").removeprefix(".") for m in loaded
            if m.split(".")[0] == "lstore_spark"}
    assert ours == _PACKAGE | _DEPENDENCIES[module]
    heavy = [m for m in loaded if m.split(".")[0] in ("pandas", "pyarrow")]
    assert not heavy, f"{module} imports {heavy[:3]}"


def test_key_order_does_not_depend_on_prior_imports():
    """The registry loads on its first read; a key module imported before
    that (perfbench imports llm.embeddings and llm.ann_index first) must
    not move its keys ahead of the others."""
    code = ("import json\n{pre}"
            "from lstore_spark.registry import ORACLE, QUERIES\n"
            "print(json.dumps([list(QUERIES), list(ORACLE)]))")
    plain = json.loads(_fresh(code.format(pre="")))
    early = json.loads(_fresh(code.format(
        pre="import lstore_spark.llm.embeddings, lstore_spark.llm.ann_index,"
            " lstore_spark.sources.sinks\n")))
    assert early == plain
    assert (len(plain[0]), len(plain[1])) == (256, 253)


def test_concurrent_first_reads_see_one_whole_registry():
    """Threads racing on the first read all wait for the one load and see
    every key, in the same order."""
    out = _fresh(
        "import json, sys, threading\n"
        "from lstore_spark.registry import QUERIES\n"
        "sys.setswitchinterval(1e-6)\n"
        "seen = []\n"
        "ts = [threading.Thread(target=lambda: seen.append(list(QUERIES)))\n"
        "      for _ in range(16)]\n"
        "for t in ts: t.start()\n"
        "for t in ts: t.join(60)\n"
        "print(json.dumps([any(t.is_alive() for t in ts), seen]))\n")
    alive, seen = json.loads(out)
    assert not alive and len(seen) == 16
    assert len(seen[0]) == 256 and all(s == seen[0] for s in seen)


def test_duplicate_key_check_does_not_load_the_registry():
    out = _fresh(
        "import sys\n"
        "import lstore_spark.sources.lstore_log\n"
        "from lstore_spark import registry\n"
        "try:\n"
        "    registry.query('q_source_lstore_log')(lambda spark, sf_dir: None)\n"
        "except ValueError as e:\n"
        "    print(e)\n"
        "print(sorted(m for m in sys.modules\n"
        "             if m.startswith('lstore_spark.operators')))\n")
    assert out.splitlines() == ["duplicate query key: q_source_lstore_log",
                                "[]"]


def test_udf_key_runs_from_any_cwd(tmp_path, sf_dir):
    """``tune()`` ships the package to the executors: a pandas-UDF key
    run by a driver whose working directory is elsewhere, with no
    PYTHONPATH, still finds lstore_spark in its Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = _fresh(
        f"import sys\nsys.path.insert(0, {ROOT!r})\n"
        "from lstore_spark import QUERIES, get_spark\n"
        "spark = get_spark('any-cwd', cpus=2, shuffle_partitions=4)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "df = QUERIES['q_llm_dedup_minhash'](spark, "
        f"{os.path.abspath(sf_dir)!r})\n"
        "print('rows', df.count())\n"
        "spark.stop()\n",
        cwd=str(tmp_path), env=env, timeout=600)
    assert out.splitlines()[-1].startswith("rows ")


def test_lstore_log_write_runs_from_any_session(tmp_path):
    """``df.write.format("lstore_log")`` tasks encode through
    lstore_log's own module code, so ``register`` ships the package
    before the write job: a bare ``SparkSession.builder`` session (no
    ``tune()``) on a driver whose working directory is elsewhere, with
    no PYTHONPATH, still writes segments that read back whole."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    seg = str(tmp_path / "segs")
    os.makedirs(seg)
    out = _fresh(
        f"import glob, sys\nsys.path.insert(0, {ROOT!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.driver.memory', '1g')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from lstore_spark.sources.lstore_log import (read_segment_file,\n"
        "                                             register)\n"
        "df = spark.createDataFrame(\n"
        "    [(i, [i, 2 * i], [b'k']) for i in range(5)],\n"
        "    'offset long, ints array<long>, blobs array<binary>')\n"
        "register(spark)\n"
        "(df.repartition(1).write.format('lstore_log')\n"
        f" .option('path', {seg!r}).mode('append').save())\n"
        f"print([r for p in sorted(glob.glob({seg!r} + '/*.seg'))\n"
        "       for r in read_segment_file(p)])\n"
        "spark.stop()\n",
        cwd=str(tmp_path), env=env, timeout=300)
    assert out.splitlines()[-1] == str(
        [(i, [i, 2 * i], [b"k"], "k") for i in range(5)])


def test_register_prunes_a_plain_read_in_a_bare_session(tmp_path):
    """``register`` owns the Python filter-pushdown conf: in a bare
    session that never set it, a plain filtered read over 4 sealed
    segments plans only the 2 whose offset range can match, and still
    returns exactly the matching rows."""
    seg = str(tmp_path / "segs")
    os.makedirs(seg)
    out = _fresh(
        f"import sys\nsys.path.insert(0, {ROOT!r})\n"
        "from pyspark.sql import SparkSession, functions as F\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.driver.memory', '1g')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "from lstore_spark.sources.lstore_log import register, write_segment\n"
        "for i in range(4):\n"
        f"    write_segment({seg!r} + f'/{{i:05d}}.seg',\n"
        "                  [(o, [o], [b'k']) for o in range(i * 10, i * 10 + 10)])\n"
        "register(spark)\n"
        "df = (spark.read.format('lstore_log').option('path', "
        f"{seg!r}).load()\n"
        "      .filter(F.col('offset') >= 25))\n"
        "print(df.rdd.getNumPartitions(),\n"
        "      sorted(r.offset for r in df.select('offset').collect()))\n"
        "spark.stop()\n",
        cwd=str(tmp_path), timeout=300)
    assert out.splitlines()[-1] == f"2 {list(range(25, 40))}"


def test_zip_directories_are_reread_only_when_the_archive_changes(tmp_path):
    """After ``import lstore_spark``, ``importlib.invalidate_caches()``
    over an unchanged zip on ``sys.path`` reads no zip directory, and a
    replaced archive is still read: a module it adds imports."""
    zpath = str(tmp_path / "mods.zip")
    out = _fresh(
        "import importlib, json, os, sys, zipfile, zipimport\n"
        f"zpath = {zpath!r}\n"
        "def build(path, names):\n"
        "    with zipfile.ZipFile(path, 'w') as z:\n"
        "        for n in names:\n"
        "            z.writestr(n + '.py', f'NAME = {n!r}\\n')\n"
        "build(zpath, ['zmod_a'])\n"
        "sys.path.insert(0, zpath)\n"
        "import zmod_a\n"
        "reads = []\n"
        "real = zipimport._read_directory\n"
        "zipimport._read_directory = lambda a: reads.append(a) or real(a)\n"
        f"sys.path.insert(1, {ROOT!r})\n"
        "import lstore_spark\n"
        "importlib.invalidate_caches()\n"
        "first = len(reads)\n"
        "for _ in range(5):\n"
        "    importlib.invalidate_caches()\n"
        "repeat = len(reads) - first\n"
        "build(zpath + '.new', ['zmod_a', 'zmod_b'])\n"
        "os.replace(zpath + '.new', zpath)\n"
        "importlib.invalidate_caches()\n"
        "import zmod_b\n"
        "print(json.dumps([repeat, zmod_b.NAME]))\n",
        cwd=str(tmp_path))
    assert json.loads(out.splitlines()[-1]) == [0, "zmod_b"]


def test_worker_rereads_no_zip_directory_after_importing_the_package(spark):
    """In a Python worker that has imported the package, a second
    ``importlib.invalidate_caches()`` (pyspark calls it before every task
    and planner call) reads no zip directory, over pyspark's own zips."""
    def probe(_):
        import importlib
        import sys
        import zipimport

        import lstore_spark  # noqa: F401

        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = {f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)}
        yield len(reads), len(zips)

    [(reads, zips)] = spark.sparkContext.parallelize([0], 1) \
        .mapPartitions(probe).collect()
    assert zips > 0, "the worker imports from no zip; the probe shows nothing"
    assert reads == 0


def test_package_zip_is_named_by_its_contents(tmp_path):
    """The shipped zip's host-wide path names its sources: the same tree
    maps to the same path, a tree with different sources to another."""
    trees = []
    for name in ("a", "b"):
        tree = tmp_path / name
        shutil.copytree(os.path.join(ROOT, "lstore_spark"),
                        tree / "lstore_spark",
                        ignore=shutil.ignore_patterns("__pycache__"))
        trees.append(str(tree))
    with open(os.path.join(trees[1], "lstore_spark", "registry.py"), "a") as fh:
        fh.write("\n# another tree\n")
    env = dict(os.environ, TMPDIR=str(tmp_path))

    def zip_of(tree: str) -> str:
        return _fresh(
            f"import sys\nsys.path.insert(0, {tree!r})\n"
            "from lstore_spark import session\n"
            "print(session._package_zip())\n",
            cwd=tree, env=env).splitlines()[-1]

    a, a_again, b = zip_of(trees[0]), zip_of(trees[0]), zip_of(trees[1])
    assert a == a_again and a != b
    assert os.path.dirname(a) == str(tmp_path)
    with zipfile.ZipFile(b) as z:
        assert z.read("lstore_spark/registry.py").endswith(b"# another tree\n")
