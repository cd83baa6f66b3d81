"""--py-files packaging (north-rule: run via spark-submit --py-files).

The full spark-submit smoke is exercised manually (tools/extract_submit.py
docstring); here we prove the zip artifact is importable as the ONLY
source of the package — what executors see — and runs the OCR kernel, and
that the engine's zip finders (``ppocr_spark._zipfinders``) re-read an
archive only when it changed, in a plain process and in Spark's workers.
"""

import subprocess
import sys
import uuid
import zipfile

from tools.build_pyfiles import build


def test_zip_is_self_contained(tmp_path):
    zip_path = build(str(tmp_path / "ppocr_spark.zip"))
    probe = r"""
import sys
zip_path = sys.argv[1]
# simulate the executor: the zip is the only way to reach the package
sys.path = [p for p in sys.path if "repo" not in p]
sys.path.insert(0, zip_path)
import ppocr_spark.pipeline as pl
assert zip_path in pl.__file__, pl.__file__
from ppocr_spark.config import PPOCRConfig
from ppocr_spark.render import render_page
from ppocr_spark.png import encode_gray
img, _ = render_page(["alpha beta gamma"])
r = pl._ocr_one(encode_gray(img), PPOCRConfig())
assert r["code"] == 100 and r["text"], r

# PySpark calls importlib.invalidate_caches() on every task: an unchanged
# archive must not be re-read, one rewritten in place must be, once
import importlib, os, zipfile, zipimport
reads = []
stock_read = zipimport._read_directory
def counting_read(archive):
    reads.append(archive)
    return stock_read(archive)
zipimport._read_directory = counting_read
importlib.invalidate_caches()
assert reads == [], reads
with zipfile.ZipFile(zip_path) as z:
    entries = [(info, z.read(info)) for info in z.infolist()]
ino = os.stat(zip_path).st_ino
with zipfile.ZipFile(zip_path, "w") as z:
    for info, data in entries:
        z.writestr(info, data)
    z.writestr("ppocr_spark/_added_in_place.py", "VALUE = 7\n")
assert os.stat(zip_path).st_ino == ino
importlib.invalidate_caches()
assert reads == [zip_path], reads
from ppocr_spark._added_in_place import VALUE
assert VALUE == 7
print("ZIP_OK", r["text"])
"""
    out = subprocess.run(
        [sys.executable, "-c", probe, zip_path],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ZIP_OK" in out.stdout


def test_zip_deterministic(tmp_path):
    a = build(str(tmp_path / "a.zip"))
    b = build(str(tmp_path / "b.zip"))
    assert open(a, "rb").read() == open(b, "rb").read()


def test_worker_zip_finders_survive_add_py_file(spark, tmp_path):
    """After one engine UDF task a worker holds no stock zipimporter, and a
    zip shipped afterwards with addPyFile still imports inside a UDF."""
    from ppocr_spark.pipeline import warm_workers

    warm_workers(spark)

    # nested functions are pickled by value: the probes themselves import
    # nothing from the engine, so ``engine`` tells whether an earlier task did
    def finders(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        cache = sys.path_importer_cache.values()
        yield pa.RecordBatch.from_pydict({
            "engine": ["ppocr_spark" in sys.modules],
            "plain": [sum(type(f) is zipimport.zipimporter for f in cache)],
            "stat": [sum(type(f).__name__ == "StatZipImporter" for f in cache)],
        })

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInArrow(
        finders, "engine boolean, plain long, stat long").collect()
    warm = [r for r in rows if r.engine]
    assert warm, rows
    assert all(r.plain == 0 and r.stat > 0 for r in warm), rows

    name = f"zf_probe_{uuid.uuid4().hex}"
    zip_path = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(zip_path)

    def shipped(batches):
        import importlib

        import pyarrow as pa

        for _ in batches:
            pass
        engine = "ppocr_spark" in sys.modules
        mod = importlib.import_module(name)
        yield pa.RecordBatch.from_pydict({
            "engine": [engine],
            "value": [mod.VALUE],
            "finder": [type(mod.__loader__).__name__],
        })

    rows = spark.range(n, numPartitions=n).mapInArrow(
        shipped, "engine boolean, value long, finder string").collect()
    assert all(r.value == 42 for r in rows), rows
    warm = [r for r in rows if r.engine]
    assert warm, rows
    assert all(r.finder == "StatZipImporter" for r in warm), rows
