"""The benchmark's datasets, generated once per checkout under the build dir."""
import hashlib
import os

import build
import gen_data

# name -> (scale factor, copies)
DATASETS = {
    "sf0.01": (0.01, 1),
    "sf0.01x2": (0.01, 2),
}


def ensure(name):
    sf, mult = DATASETS[name]
    with open(gen_data.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(build.build_root(), "data", f"{name}-{tag}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen_data.build(path, sf, mult)
    return path
