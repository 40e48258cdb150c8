"""Failure reporting of the scripts under tools/."""

import importlib.util
import os
import subprocess

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def load_tool(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.mark.parametrize("returncode, stdout", [(1, ""), (1, '{"partial": 1}\n'), (0, "")])
def test_data_scaling_reports_failed_spark_submit(monkeypatch, returncode, stdout):
    """A failed or silent spark-submit raises with the stderr tail, not
    an IndexError or JSONDecodeError from parsing its stdout."""
    data_scaling = load_tool("data_scaling")
    stderr = "\n".join(f"log line {i}" for i in range(50)) + "\nOutOfMemoryError: Java heap space"

    def fake_run(cmd, **_kw):
        return subprocess.CompletedProcess(cmd, returncode, stdout=stdout, stderr=stderr)

    monkeypatch.setattr(data_scaling.subprocess, "run", fake_run)
    with pytest.raises(RuntimeError, match="OutOfMemoryError") as err:
        data_scaling.spark_run("/nonexistent/pages.parquet", cores=1, repeat=1)
    assert "log line 0\n" not in str(err.value)  # a tail, not the whole log
