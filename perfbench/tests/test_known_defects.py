"""Engine defects the benchmark works around. Each test states the
behaviour the benchmark would rely on; a strict xfail turns red once the
engine is fixed, which is the cue to drop the workaround."""

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError


@pytest.fixture(scope="module")
def store(spark, tiny_tables):
    from scio_sparql_spark.sources.bridge import bridge_ctx

    return bridge_ctx(spark, tiny_tables, ["region", "nation"])[0]


@pytest.mark.xfail(strict=True, raises=Py4JJavaError,
                   reason="ADD GRAPH over a bridge-built store fails an "
                          "assertion in Catalyst's optimizer")
def test_add_graph_over_bridge_store(store):
    from scio_sparql_spark import execute_update

    out = execute_update(store, "ADD GRAPH <urn:graph:region> TO <urn:graph:copy>")
    assert out.localCheckpoint().count() == store.count() + 10


def test_write_triples_nt_output_reads_back_only_through_a_glob(spark, store, tmp_path):
    """read_triples takes any directory for parquet, so the directory
    write_triples_nt produces cannot be read by its own path; renaming the
    part files to *.nt and reading a glob works. The benchmark sidesteps
    this by writing its LOAD payload as one .nt file."""
    from scio_sparql_spark import read_triples, write_triples_nt

    path = str(tmp_path / "nt")
    write_triples_nt(store, path)
    with pytest.raises(Exception):
        read_triples(spark, path).count()
    for p in glob.glob(os.path.join(path, "part-*")):
        os.rename(p, os.path.splitext(p)[0] + ".nt")
    assert read_triples(spark, os.path.join(path, "*.nt")).count() == store.count()
