"""The ``rules_catalog`` oracle is what its generator prints.

``fixtures/rules_catalog_oracle.sql`` is the output of
``tools/gen_rules_oracle.py``, which parses ``fixtures/config_2.ini``
with the stdlib configparser. Running the generator again must give the
checked-in file byte for byte, so the oracle cannot drift from the INI
or from its generator. Stdlib only: no Spark session is started.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_gen_rules_oracle_reproduces_fixture():
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "gen_rules_oracle.py")],
        cwd=ROOT, capture_output=True, timeout=60,
    )
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    fixture = os.path.join(
        ROOT, "dev_dot_cvp_metadata_ingestion_spark", "fixtures",
        "rules_catalog_oracle.sql",
    )
    with open(fixture, "rb") as fh:
        assert proc.stdout == fh.read()
