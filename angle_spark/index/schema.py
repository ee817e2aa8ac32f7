"""Spark DDL of every table under an index directory.

Every index read passes one of these to ``build._read_table``, so no read
infers a schema: inference costs a Spark job per read (a footer scan),
and partition discovery types a key from its directory names — it read
``segments/segment_id=K`` as an int while every computed key
(``doc_id / segment_docs``) is a long, and Spark hashes an int key and
a long key with equal value to different shuffle partitions, so a
cogroup of the two sides silently missed most of its groups. Declared
types make every ``segment_id`` a long on both sides of every cogroup
and join by construction.

Files written before the types were declared still read: merged/ and
the delta runs stored ``segment_id`` as int32, and both Parquet readers
widen int32 to the declared int64. A column a legacy file lacks (e.g.
lineage ``token_count``, term_stats ``cf``) reads as NULL, which the
readers already treat as "unknown".
"""

from __future__ import annotations

# posting-block rows: segments/ (segment_id is the partition column, one
# segments/segment_id=K/ dir per segment), merged/ and delta_runs/<run>/
# (segment_id stored in the files). Also the encoder output schema.
BLOCKS = (
    "term string, segment_id long, block_in_seg int, first_doc long, "
    "last_doc long, n_postings int, max_tf int, min_dl long, sum_tf long, "
    "max_impact double, docs_bin binary, tfs_bin binary, dls_bin binary, "
    "pos_bin binary"
)

# the files of ONE segments/segment_id=K/ dir: the block columns minus
# the partition column the directory name carries
SEGMENT_FILES = BLOCKS.replace(" segment_id long,", "")

TERM_STATS = "term string, df long, cf long"

# one row per segment commit (batch build: per segment; streamed append:
# per segment a micro-batch touched)
LINEAGE = (
    "partition_id long, doc_count long, term_count long, bytes long, "
    "wall_ms long, commit_ts timestamp, token_count long"
)

# deletes/ tombstones; also ubq/hits, the update_by_query journal's
# pinned hit set (the tombstones that update appends last)
DELETES = "doc_id long"
