"""Run a corpus-kernel test again with the driver-side path switched off.

``minhash_dedup_pairs`` and ``bm25_topk`` (``corpus=``) finish on the
driver when their input fits ``spark.sql.autoBroadcastJoinThreshold``;
a twin built by :func:`distributed_twin` runs the same test body with
the threshold at -1, so both paths answer the same assertions.
"""

from __future__ import annotations

import functools

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def distributed_twin(test):
    """``test`` under ``spark.sql.autoBroadcastJoinThreshold=-1``. Its
    fixtures pass through unchanged; ``spark`` must be one of them."""

    @functools.wraps(test)
    def twin(spark, *args, **kwargs):
        prev = spark.conf.get(THRESHOLD)
        spark.conf.set(THRESHOLD, "-1")
        try:
            test(spark, *args, **kwargs)
        finally:
            spark.conf.set(THRESHOLD, prev)

    return twin
