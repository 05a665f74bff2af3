"""Tests and scripts run the code of THEIR OWN checkout, so a copy of
the repo (an A/B tree, a mutation check) tests itself and not some
other tree that happens to sit at a fixed path."""

from __future__ import annotations

import glob
import os

import osrs_dashboard_elt_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_is_imported_from_this_checkout():
    pkg = os.path.dirname(os.path.abspath(osrs_dashboard_elt_spark.__file__))
    assert pkg == os.path.join(REPO, "osrs_dashboard_elt_spark")


def test_no_test_or_script_hard_codes_the_checkout_path():
    files = glob.glob(os.path.join(REPO, "tests", "*.py")) + glob.glob(
        os.path.join(REPO, "scripts", "*.py")
    )
    assert files
    offenders = []
    for p in files:
        with open(p, encoding="utf-8") as f:
            if REPO in f.read():
                offenders.append(os.path.relpath(p, REPO))
    assert offenders == []
