"""Engine configuration mirroring the reference's config surface.

The reference exposes five typed config classes bound from env vars
(reference: src/main/resources/application.properties:25-55,
config/properties/*.kt — see SURVEY.md §2.7). Spark subsumes most of the
operational knobs (retries, checkpointing, locking), so the equivalents here
map onto Structured Streaming options; the semantic knobs (operation-type
filter, projection) feed the batch/stream preparation stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CdcConfig:
    # -- change-stream options (reference: ChangeStreamOptionsConfig.kt:6-14)
    collection: str = "eventstore"
    # server-side operationType match (reference:
    # EcommerceTransactionsLogEventsStream.kt:79-85, values .env.local:25)
    operation_types: tuple[str, ...] = ("insert", "update", "replace")
    # server-side projection (reference: EcommerceTransactionsLogEventsStream.kt:86-89)
    project: str = "fullDocument"

    # -- view sink (reference: application.properties:55)
    view_name: str = "transactions-view"

    # -- streaming equivalents of the reference's resume/retry policies.
    # Structured Streaming checkpoints subsume the Redis resume token
    # (reference: RedisResumePolicyService.kt:37-72) and the per-event lock
    # (reference: CdcLockService.kt:40-50).
    checkpoint_location: str | None = None
    max_files_per_trigger: int | None = None

    # task-level retry replaces CDC_SEND_RETRY_* (helm/values-prod.yaml:108-109)
    task_max_failures: int = 4

    # S3 fallback start window on checkpoint miss, minutes before now
    # (reference: RedisResumePolicyService.kt:43-52, CDC_RESUME_FALLBACK_IN_MIN);
    # None = ingest from the beginning on first run
    fallback_minutes: int | None = None

    # per-key dedup memory, the analog of the lock TTL's dedup horizon
    # (reference: CDC_REDIS_JOB_LOCK_TTL_MS, helm/values-prod.yaml:130):
    # how many most-recent event ids each view row remembers (``_seen``)
    seen_ids_cap: int = 4096

    # liveness staleness bound, seconds (reference:
    # CDC_LIVENESS_INACTIVITY_THRESHOLD_SECONDS, helm/values-prod.yaml:138);
    # <= 0 disables, like CustomLivenessIndicator.kt:49-52
    inactivity_timeout_seconds: float = 3600.0

    # unknown event codes are rejected as non-retriable
    # (reference: exceptions/CdcEventTypeException.kt:12-13); quarantined here.
    quarantine_path: str | None = None

    extra_spark_conf: dict[str, str] = field(default_factory=dict)


DEFAULT_CONFIG = CdcConfig()
