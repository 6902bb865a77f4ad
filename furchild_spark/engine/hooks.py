"""Ready-made model hooks (dbt pre_hook/post_hook values).

dbt hooks are SQL strings (``OPTIMIZE {{ this }}``, grants, audit
inserts); here a hook is any callable taking the model's
:class:`~.registry.ExecutionContext`, and this module ships the
factories a Spark warehouse actually wants:

- :func:`compact_txlog` — the ``OPTIMIZE`` post-hook: after an
  incremental model lands its batch, rewrite accumulated small files
  into fewer clustered ones (pairs with the ``maintain`` CLI, but fires
  automatically at the moment fragmentation is created instead of
  waiting for a scheduled sweep). At 100 TB the difference is read
  amplification: thousands of per-batch files vs a handful per scope.
- :func:`audit_log` — the audit-insert hook: append one row per firing
  to a parquet audit table (who/what/when), dbt's classic
  ``insert into audit ...`` pre/post pattern.
"""

from __future__ import annotations

import datetime as dt
import os


def compact_txlog(small_file_mb: float = 32.0):
    """Post-hook: compact the model's TxTable when small files piled up.

    No-op (by design, not error) when the run isn't txlog-backed or the
    table doesn't exist yet — hooks must not break the first build. The
    run's store decides (``ParquetStore.compact`` does nothing)."""

    def hook(ctx) -> None:
        runner, model = ctx.runner, ctx.model
        if runner.warehouse_dir is None:
            return
        runner.store.compact(
            runner._path(model.name), model,
            small_file_bytes=int(small_file_mb * 1024 * 1024),
        )

    hook.__name__ = f"compact_txlog_{small_file_mb}mb"
    return hook


def audit_log(table_dir: str, event: str):
    """Hook: append one audit row (model, event, clock) to
    ``table_dir``. Uses the runner's frozen clock when set so audit
    rows are deterministic under test."""

    def hook(ctx) -> None:
        now = ctx.runner.now or dt.datetime.now(dt.timezone.utc).replace(
            tzinfo=None
        )
        name = ctx.model.name if ctx.model is not None else "<run>"
        row = [(name, event, now)]
        df = ctx.spark.createDataFrame(
            row, "model string, event string, at timestamp"
        )
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(table_dir)
        )

    hook.__name__ = f"audit_log_{event}"
    return hook
