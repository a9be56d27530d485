"""Record the source fingerprint each query had at its newest green driver row.

For every registered query with a green row in a committed
``CORRECTNESS_r*.json``, find the commit that added the file holding its
newest green row, ``git archive`` that commit's package into a temp dir
and fingerprint the query there, in a subprocess, with the CURRENT rules
of ``micmac_li3ds_spark/fingerprint.py``. The result goes to
``ATTESTATIONS.json``, which ``registry.derive_window()`` compares with
the fingerprints of the working tree to find queries touched since their
last attestation.

Old trees come from git, so edits to the working tree do not change the
output, and a second run reproduces the file byte for byte. Run it
whenever a new ``CORRECTNESS_rN.json`` lands:

    python tools/record_attestations.py
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import tarfile
import tempfile
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from micmac_li3ds_spark import registry  # noqa: E402

FINGERPRINT_PY = os.path.join(REPO, "micmac_li3ds_spark", "fingerprint.py")

# Runs in a fresh interpreter whose only package tree is the archived one.
_CHILD = r"""
import importlib.util, json, sys
root, fp_path, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, root)
spec = importlib.util.spec_from_file_location("_fingerprint", fp_path)
fp = importlib.util.module_from_spec(spec)
spec.loader.exec_module(fp)
from micmac_li3ds_spark import registry as R
R._ensure_loaded()
regs = R._REGISTRY
print(json.dumps(fp.fingerprints({n: (regs[n].fn, regs[n].oracle) for n in names}, root)))
"""


def _git(*args: str) -> bytes:
    return subprocess.run(
        ["git", "-C", REPO, *args], check=True, capture_output=True
    ).stdout


def _adding_commit(rnd: int) -> str:
    path = f"CORRECTNESS_r{rnd:02d}.json"
    commits = _git("log", "--diff-filter=A", "--format=%H", "--", path).split()
    if not commits:
        raise SystemExit(f"{path} is not committed; commit it before recording")
    return commits[-1].decode()  # the first add, if it was ever re-added


def _fingerprint_at(commit: str, names: list[str]) -> dict[str, str]:
    with tempfile.TemporaryDirectory(prefix="attest-") as tmp:
        tree = _git("archive", "--format=tar", commit, "micmac_li3ds_spark")
        with tarfile.open(fileobj=io.BytesIO(tree)) as tar:
            tar.extractall(tmp, filter="data")
        out = subprocess.run(
            [sys.executable, "-I", "-c", _CHILD, tmp, FINGERPRINT_PY, *names],
            check=True, stdout=subprocess.PIPE, text=True, cwd=tmp,
        ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    latest, max_round = registry.green_rounds()
    registry._ensure_loaded()
    by_round = defaultdict(list)
    for name in registry._REGISTRY:
        if name in latest:
            by_round[latest[name]].append(name)
    queries = {}
    for rnd in sorted(by_round):
        commit = _adding_commit(rnd)
        fps = _fingerprint_at(commit, sorted(by_round[rnd]))
        print(f"r{rnd:02d} {commit[:10]}: {len(fps)} queries", file=sys.stderr)
        queries.update(
            {n: {"round": rnd, "fingerprint": fp} for n, fp in fps.items()}
        )
    doc = {"round": max_round, "queries": queries}
    with open(registry.ATTESTATIONS_FILE, "w") as fh:
        fh.write(json.dumps(doc, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(queries)} fingerprints to {registry.ATTESTATIONS_FILE}")


if __name__ == "__main__":
    main()
