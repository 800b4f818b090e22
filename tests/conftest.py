from __future__ import annotations

import base64
import json
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from evaluate_human_balance_with_spark_streaming_spark.caching import release_managed
from evaluate_human_balance_with_spark_streaming_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # Temp dirs the engine makes for itself (materialized stream wires)
    # go under pytest's base temp, which pytest prunes, not /tmp.
    system_tempdir = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("engine-tmp"))
    spark = get_spark("ehb-tests", shuffle_partitions=8)
    yield spark
    # Replay checkpoints and memory sinks are released on the next
    # sweep; run the last one so none outlives the session.
    release_managed()
    tempfile.tempdir = system_tempdir


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def envelope(
    inner: dict | str,
    key: str = "Customer",
    extra_entries: int = 0,
    ch: bool | str = False,
    twin: bool = True,
    entry_score: float | str = 0.0,
) -> str:
    """The ONE redis-envelope wire builder shared by every test module
    (a second copy would let two fixtures silently pin inconsistent
    wire shapes). The knobs exist because the decode chain must
    tolerate BOTH observed encodings of the quirky fields: `ch`
    boolean or string on the wire (schema says string -> coerced),
    entry score float or string, the redundant `zsetEntries` twin
    present or absent."""
    inner_json = inner if isinstance(inner, str) else json.dumps(inner)
    entry = {"element": b64(inner_json), "score": entry_score}
    entries = [entry] + [
        {"element": b64('{"customerName":"Noise"}'), "score": 1.0}
    ] * extra_entries
    env: dict = {
        "key": b64(key),
        "existType": "NONE",
        "ch": ch,
        "incr": False,
        "zSetEntries": entries,
    }
    if twin:
        env["zsetEntries"] = entries  # redundant twin must be tolerated
    return json.dumps(env)
