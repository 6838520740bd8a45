"""The nightly workload's bootstrapped base, built once per checkout.

Release R0's snapshot S0 (``--load``) and its annotations A0
(``--annotate`` of S0) are the ``--prev`` state every incremental
nightly run starts from. They depend only on the package, the release
generator, this file and the release size, so they are built once into
``.perfbench_build/nightly-<records>-<hash>`` and reused by every run
and seed; R1's churn is what the seed varies.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "clinvar_pipeline_spark"


def _key(records: int) -> str:
    """Hash of every input the base depends on."""
    h = hashlib.sha256(str(records).encode())
    for f in sorted(PACKAGE.rglob("*.py")) + [HERE / "gen_release.py", HERE / "base.py"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ensure(records: int) -> Path:
    """The base directory, built first if missing: in a child process
    (``run.py --build-base``), so the measuring session stays as cold
    as a cron run's."""
    base = ROOT / ".perfbench_build" / f"nightly-{records}-{_key(records)}"
    if not (base / "DONE").is_file():
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--build-base", str(base),
             "--records", str(records)],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
    return base


def build(base: Path, records: int, start_session) -> None:
    """Bootstrap S0 and A0 into ``base``, plus the nightly's aux dir
    whose existing annotations are A0's. ``start_session(work_dir)``
    returns the Spark session to build with."""
    import gen_release

    from clinvar_pipeline_spark import cli

    tmp = base.with_name(f"{base.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp / "tmp")
    rel = tmp / "release"
    gen_release.make_release(str(rel), gen_release.BASE_SEED, records)
    spark = start_session(tmp)
    try:
        cli.main(["--load", "--xml", str(rel / "R0.xml"), "--genes", str(rel / "genes.parquet"),
                  "--out", str(tmp / "S0")])
        cli.main(["--annotate", "--snapshot", str(tmp / "S0"), "--aux", str(rel / "aux"),
                  "--out", str(tmp / "A0")])
    finally:
        spark.stop()
    shutil.copytree(rel / "aux", tmp / "aux1", ignore=shutil.ignore_patterns("existing_*"))
    shutil.copytree(tmp / "A0" / "annotations", tmp / "aux1" / "existing_annotations.parquet")
    (tmp / "R0.sha256").write_text(hashlib.sha256((rel / "R0.xml").read_bytes()).hexdigest())
    for d in ("release", "tmp", "local", "warehouse"):
        shutil.rmtree(tmp / d, ignore_errors=True)
    (tmp / "DONE").write_text("")
    try:
        tmp.rename(base)
    except OSError:  # another process finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
