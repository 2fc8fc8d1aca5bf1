"""Every module of the package imports. Tier-1 runs pytest with
--continue-on-collection-errors, so a module whose top-level import
names a deleted one would otherwise only show up as a skipped test
file."""

import importlib
import pkgutil

import pytest

import pacasam_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(pacasam_spark.__path__, prefix="pacasam_spark.")
)


def test_walk_finds_the_package_modules():
    assert "pacasam_spark.samplers.triple" in MODULES
    assert "pacasam_spark.run_sampling" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
