"""Per-run working directories and clean-up of what a run leaves behind.

Each run gets empty `java.io.tmpdir`, `spark.local.dir`, warehouse and
working directories under the build dir; they are deleted afterwards. The
engine's streaming entries put checkpoints under `/dev/shm/graft_*`, outside
any of these, so entries that appear there during the run are measured as
leaked and removed.
"""
import glob
import os
import shutil
import tempfile

SHM_GLOB = "/dev/shm/graft_*"


def _size(path):
    if os.path.islink(path) or not os.path.isdir(path):
        return os.lstat(path).st_size
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


class RunDir:
    def __init__(self, parent, label):
        self.parent, self.label = parent, label
        self.leaked_mb = 0.0

    def __enter__(self):
        os.makedirs(self.parent, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"{self.label}-", dir=self.parent)
        for d in ("tmp", "local", "warehouse", "work"):
            os.makedirs(os.path.join(self.root, d))
        self.work = os.path.join(self.root, "work")
        self.shm_before = set(glob.glob(SHM_GLOB))
        return self

    def java_flags(self):
        return [f"-Djava.io.tmpdir={os.path.join(self.root, 'tmp')}",
                f"-Dspark.local.dir={os.path.join(self.root, 'local')}",
                f"-Dspark.sql.warehouse.dir={os.path.join(self.root, 'warehouse')}",
                "-XX:-UsePerfData"]

    def __exit__(self, *exc):
        leaked = [p for p in glob.glob(SHM_GLOB) if p not in self.shm_before]
        self.leaked_mb = sum(_size(p) for p in leaked) / 1e6
        for p in leaked:
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        shutil.rmtree(self.root, ignore_errors=True)
        return False
