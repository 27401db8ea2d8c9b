"""Index files that cannot be read fail the query that reaches them.

The driver reads the lexicon and the blocks of a driver-sized scan
straight from the parquet files; a part file overwritten with garbage must
make the query raise, never answer from the files that are left, and so
must one flipped byte inside a data page (the page CRC catches it, as the
``.crc`` sidecar does for Spark's reads). The reader is opened while the
files are intact, as a long-lived reader is, so the failure comes from the
query's own reads.
"""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest

from marginaliasearch_spark.operators.index_build import IndexPaths, build_index
from marginaliasearch_spark.operators.query_exec import IndexReader, run_query
from marginaliasearch_spark.sources.transcripts import bm25_corpus


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("failclosed"))
    build_index(spark, bm25_corpus(spark, 60), root, n_buckets=1)
    return root


def _clobber(path):
    with open(path, "wb") as f:
        f.write(b"not a parquet file")
    # drop the checksum sidecar, so the parquet read itself is what fails
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _flip_page_byte(path, column):
    """Flip one byte inside the last data page of ``column``'s first chunk,
    keeping the file's length and its ``.crc`` sidecar."""
    meta = pq.ParquetFile(path).metadata
    names = [meta.row_group(0).column(c).path_in_schema for c in range(meta.num_columns)]
    chunk = meta.row_group(0).column(names.index(column))
    start = chunk.dictionary_page_offset or chunk.data_page_offset
    with open(path, "r+b") as f:
        f.seek(start + chunk.total_compressed_size - 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))


def _part_holding(root, table, column, value):
    parts = glob.glob(os.path.join(root, table, "**", "*.parquet"), recursive=True)
    (part,) = [
        p for p in parts if value in pq.read_table(p, columns=[column])[column].to_pylist()
    ]
    return part


def _copy(index_root, tmp_path):
    root = str(tmp_path / "idx")
    shutil.copytree(index_root, root)
    return root


def test_garbage_postings_file_fails_the_query(spark, index_root, tmp_path):
    root = _copy(index_root, tmp_path)
    warm = IndexReader(spark, IndexPaths(root))
    cold = IndexReader(spark, IndexPaths(root))
    tid = warm.term_stats(["word01"])["word01"][0]
    assert run_query(warm, "word01 word02", k=10).collect()
    # the part file holding word01's blocks
    _clobber(_part_holding(root, "postings", "term_id", tid))
    # the warm reader listed the file intact; the cold one lists it as
    # garbage, and must keep it rather than skip it
    for reader in (warm, cold):
        with pytest.raises(Exception):
            run_query(reader, "word01 word02", k=10).collect()


def test_garbage_lexicon_file_fails_the_query(spark, index_root, tmp_path):
    root = _copy(index_root, tmp_path)
    warm = IndexReader(spark, IndexPaths(root))
    cold = IndexReader(spark, IndexPaths(root))
    assert run_query(warm, "word01 word02", k=10).collect()
    parts = glob.glob(os.path.join(root, "lexicon", "*.parquet"))
    assert parts
    _clobber(parts[0])
    # word03 is not in the warm reader's memo, so its lookup reads the files
    for reader, q in ((warm, "word01 word03"), (cold, "word01 word02")):
        with pytest.raises(Exception):
            run_query(reader, q, k=10).collect()


@pytest.mark.parametrize(
    "table, column",
    [
        ("postings", "term_id"),
        ("postings", "doc_ids"),
        ("lexicon", "term"),
        ("lexicon", "df"),
    ],
)
def test_flipped_page_byte_fails_the_query(spark, index_root, tmp_path, table, column):
    """One byte flipped inside a data page, with the ``.crc`` sidecar kept:
    the driver's reads check the page CRC and raise."""
    root = _copy(index_root, tmp_path)
    warm = IndexReader(spark, IndexPaths(root))
    cold = IndexReader(spark, IndexPaths(root))
    assert run_query(warm, "word01 word02", k=10).collect()
    if table == "postings":
        tid = warm.term_stats(["word03"])["word03"][0]
        part = _part_holding(root, table, "term_id", tid)
    else:
        part = _part_holding(root, table, "term", "word03")
    _flip_page_byte(part, column)
    # word03 is not in the warm reader's memo, so its lookup reads the files
    for reader in (warm, cold):
        with pytest.raises(Exception):
            run_query(reader, "word01 word03", k=10).collect()
