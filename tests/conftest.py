from __future__ import annotations

import os
import sys

import pytest

# the checkout this file sits in, not an installed or sibling copy
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_pipelines_aws_glue_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
