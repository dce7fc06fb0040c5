"""scripts/validate_local_cluster_scaling.py: a failing replica of the
concurrent narrow side must not leave its siblings running."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script():
    path = os.path.join(REPO, "scripts", "validate_local_cluster_scaling.py")
    spec = importlib.util.spec_from_file_location("lc_scaling", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_concurrent_probe_reaps_replicas_when_one_fails(monkeypatch):
    mod = _load_script()
    cmds = iter([
        [sys.executable, "-c", "print('not json')"],  # parse fails
        [sys.executable, "-c", "import time; time.sleep(60)"],
        [sys.executable, "-c", "import time; time.sleep(60)"],
    ])
    monkeypatch.setattr(mod, "_probe_cmd", lambda *a: next(cmds))
    started = []
    real_popen = subprocess.Popen

    def popen(*a, **kw):
        started.append(real_popen(*a, **kw))
        return started[-1]

    monkeypatch.setattr(mod.subprocess, "Popen", popen)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="probe"):
        mod._submit_probe_concurrent(1, "zip", "src", 10, 3)
    assert time.monotonic() - t0 < 30
    assert len(started) == 3
    assert all(p.returncode is not None for p in started)
