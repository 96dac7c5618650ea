"""Pipeline configuration — the reference's public API surface.

Mirrors the Terraform-input / env-var surface of the reference
(``/root/reference/main.tf:41-52``, ``/root/reference/variables.tf``,
``/root/reference/README.md:58-79``). Field names keep the reference's
vocabulary so a user of the reference can map their deploy config 1:1.

Deploy-only knobs of the reference (memory/timeout/runtime/handler/
tags/log_retention/tracing/lambda_package_url/name) map to Spark
job/cluster submission config, not engine semantics, and are omitted.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class PipelineConfig:
    """Engine-semantic configuration (reference ``variables.tf``).

    As-built-vs-intended decisions (SURVEY.md §2.4) are explicit flags
    so tests can pin either behavior:

    - ``non_json_to_unknown``: the reference README (``README.md:9``)
      says non-JSON payloads are saved under the unknown prefix, but
      the code skips them (``lambda/main.py:50-52``). Default True
      (documented/intended semantics).
    - empty whitelist == allow-all (``README.md:70``) despite the
      reference's dead empty-check (``lambda/main.py:32-36``).
    """

    # sink layout (main.tf:49-50)
    log_bucket: str | None = None
    log_path_prefix: str = ""

    # envelope field names (variables.tf:55-73, main.tf:44-47)
    log_id_field: str = "log_id"
    log_type_field: str = "log_type"
    log_timestamp_field: str = "time"

    # routing (variables.tf:65-68, 75-79)
    log_type_unknown_prefix: str = "unknown"
    log_type_whitelist: tuple[str, ...] = ()

    # timestamp handling (main.tf:43, variables.tf:1-4); a timestamp is
    # always required, as at lambda/main.py:63, and parsed as dateutil
    # would (README.md:15): see functions.timestamps.with_timestamp
    timezone: str = "UTC"

    # source (main.tf:56-62, variables.tf:16-18, 50-53)
    batch_size: int = 100
    starting_position: str = "TRIM_HORIZON"
    kinesis_stream_arn: str | None = None

    # semantics flags (SURVEY.md §2.4)
    non_json_to_unknown: bool = True

    # partition date used for unknown-routed records whose timestamp is
    # absent/unparseable. None -> processing date (current_date); tests
    # pin a literal 'YYYY-MM-DD' for determinism.
    unknown_date: str | None = None

    def with_(self, **kw) -> "PipelineConfig":
        return replace(self, **kw)

    @property
    def whitelist_enabled(self) -> bool:
        # intended semantics: empty (or only-empty-string) whitelist
        # disables filtering (README.md:70; dead check lambda/main.py:33)
        return any(w for w in self.log_type_whitelist)

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "PipelineConfig":
        """Build from the reference's env-var names (main.tf:41-52)."""
        e = os.environ if env is None else env
        wl = tuple(w for w in e.get("LOG_TYPE_WHITELIST", "").split(",") if w)
        return cls(
            # the reference wires the bucket as LOG_S3_BUCKET (main.tf:49);
            # LOG_BUCKET kept as a fallback alias
            log_bucket=e.get("LOG_S3_BUCKET", e.get("LOG_BUCKET")),
            log_path_prefix=e.get("LOG_S3_PREFIX", ""),
            log_id_field=e.get("LOG_ID_FIELD", "log_id"),
            log_type_field=e.get("LOG_TYPE_FIELD", "log_type"),
            log_timestamp_field=e.get("LOG_TIMESTAMP_FIELD", "time"),
            log_type_unknown_prefix=e.get("LOG_TYPE_UNKNOWN_PREFIX", "unknown"),
            log_type_whitelist=wl,
            timezone=e.get("TZ", "UTC"),
        )
