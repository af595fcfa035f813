"""Import-rot guard for the measurement tools.

The scale/skew/bucket/layout smokes and the staged-replay certificate
are session-run tools, not CI stages — nothing else imports them, so
a refactor in the operators they exercise could silently break them
between rounds. Importing each module catches signature drift at the
module level (their heavy work only runs under __main__).
"""

import importlib
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "tools"))


def test_measurement_tools_importable():
    for mod in (
        "scale_curve",
        "skew_smoke",
        "bucket_smoke",
        "layout_smoke",
        "sf1_hard_cert",
        "make_sf1",
        "scale_smoke",
    ):
        importlib.import_module(mod)
