"""Transactional MERGE writer seam (SURVEY.md §7.3's planned swap).

The reference's sink is PostgreSQL ``INSERT ... ON CONFLICT (pk) DO
UPDATE`` (``src/storage.py:41-53``) — transactional per statement. The
engine's equivalent on a data lake is ``MERGE INTO`` on a
transactional table format (Delta Lake / Iceberg), which is safe under
concurrent writers; the non-transactional fallback is the verified
relational rewrite (:func:`..merge.merge_into`) plus an atomic
directory swap, safe for a single writer.

Availability in THIS container (probed 2026-08-13, see
``docs/DELTA_PROBE.md``): no ``delta`` Python module, no delta/iceberg
jar among pyspark's 286 bundled jars, and ``spark.jars.packages``
cannot resolve ``io.delta:delta-spark_2.13:4.0.0`` (no network route to
Maven: ``unresolved dependency ... not found`` after a 222 ms offline
resolve). ``merge_write(writer="auto")`` therefore selects the
fallback here; on a cluster with Delta on the classpath the same call
runs a real ``MERGE INTO`` with identical clause semantics.
"""

# r14 (VERDICT r13 item 6): the 6.8 kLoC monolith is now a package —
# errors/schema/layout/stats are the dependency-free substrate, the
# ManifestTable class is assembled in table.py from six single-concern
# mixins (core pointer/log/GC, read+skipping, commit/append, MoR DML,
# clustered layout, evolution/lifecycle), and ingest/compact/group hold
# the module-level drivers.  Every name importable from the old
# operators/txn.py module is re-exported here UNCHANGED (tests, queries,
# and the SQL datasource import through this package path).

from __future__ import annotations

# the old flat module exposed its stdlib imports as attributes; the
# crash-injection tests reach the SHARED os module through `txn.os`
# to wrap rename/replace — keep that handle on the package
import os  # noqa: F401

from .errors import (  # noqa: F401
    ConcurrentWriteError,
    SnapshotExpiredError,
    ConstraintViolationError,
    SchemaEvolutionError,
    AuditFailedError,
    PublishConflictError,
)
from .schema import (  # noqa: F401
    _WIDEN,
    _widens,
    evolve_schema,
    align_to_schema,
    _phys_schema,
    _snap_read,
    _apply_map,
    _diff_frames,
)
from .layout import (  # noqa: F401
    _location_matches,
    _write_bucketed,
    _link_tree,
    _refuse_clustered,
    _spec_dirname,
    _entry_specs,
    _current_spec,
    _spec_partition_cols,
    GROUP_INTENT,
    _bucket_id,
    DV_DIR,
    CDF_DIR,
    UPD_DIR,
    BLOOM_DIR,
)
from .stats import (  # noqa: F401
    _stat_scalar,
    collect_file_stats,
    _OPERATIONAL_META_KEYS,
    _inherited_meta,
    _write_bloom_sidecar,
    _snapshot_files,
)
from .table import (  # noqa: F401
    ManifestTable,
)
from .ingest import (  # noqa: F401
    apply_diff,
    delta_available,
    merge_write,
    recover_swap,
    append_files_local,
)
from .compact import (  # noqa: F401
    compact_table,
    compact_small_files,
    compact_clustered,
    zorder_key,
    sweep_stale_dirs,
)
from .group import (  # noqa: F401
    _member_swapped,
    _complete_group_intent,
    _read_intent,
    _unlink_intents,
    recover_group,
    TransactionGroup,
)
from ..merge import merge_into  # noqa: F401  (old flat-module surface)
