"""The session policy, highest first: the caller's ``extra_conf``, then the
launcher's conf, then ``session._DEFAULTS``."""

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from omop2owl_vocab_spark import session

REPO = Path(__file__).resolve().parents[1]
# the two semantic pins kept whatever Spark's default is
PINS = {"spark.sql.session.timeZone", "spark.sql.ansi.enabled"}

_SUBMITTED = """
import sys
sys.path.insert(0, {repo!r})
from omop2owl_vocab_spark.session import get_spark
s = get_spark()
print("CONF", s.sparkContext.master,
      s.conf.get("spark.sql.shuffle.partitions"),
      s.conf.get("spark.sql.session.timeZone"))
"""

# Keys of `_DEFAULTS` whose value a bare session, launched the way plain
# `python` launches one, already has.  SQL keys are compared after Spark
# parses both values ("64m" == "67108864b").
_BARE = """
import json, sys
from pyspark.sql import SparkSession
s = SparkSession.builder.master("local[1]").getOrCreate()
core = s.sparkContext.getConf()
find = s._jvm.org.apache.spark.internal.config.ConfigEntry.findEntry
same = []
for k, v in json.loads(sys.argv[1]).items():
    if s.conf.isModifiable(k):
        bare = s.conf.get(k)
        s.conf.set(k, v)
        ours = s.conf.get(k)
    else:
        bare, ours = core.get(k, None) or find(k).defaultValueString(), v
    if bare == ours:
        same.append(k)
print("SAME", json.dumps(same))
"""


def _child_line(proc, tag):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [ln for ln in proc.stdout.splitlines() if ln.startswith(tag)][-1]


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_conf_beats_the_defaults(tmp_path):
    child = tmp_path / "child.py"
    child.write_text(_SUBMITTED.format(repo=str(REPO)))
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=8",
            str(child),
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    # the launcher's master and conf stand; keys it leaves unset still
    # take the package default
    assert _child_line(proc, "CONF ").split()[1:] == ["local[2]", "8", "UTC"]


def test_defaults_differ_from_spark_defaults(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _BARE, json.dumps(session._DEFAULTS)],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    same = json.loads(_child_line(proc, "SAME ")[len("SAME "):])
    assert set(same) - PINS == set()


def test_reusing_the_live_session_keeps_its_conf(spark):
    """A get_spark call that reuses the live session leaves the conf its
    creator chose (the test session's 4 shuffle partitions, not the
    package default 32); an explicit ``extra_conf`` still applies."""
    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "4"
    try:
        assert session.get_spark("another-app") is spark
        assert spark.conf.get(key) == "4"
        session.get_spark("another-app", extra_conf={key: "5"})
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, "4")


def test_session_reads_only_the_core_count_env_var():
    """`extra_conf` and spark-submit are the override paths; the one
    `SPARK_GRAFT_*` variable left picks the local core count."""
    src = Path(session.__file__).read_text()
    assert set(re.findall(r"SPARK_GRAFT_\w+", src)) == {"SPARK_GRAFT_CPUS"}
