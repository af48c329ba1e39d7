"""Task registry: (input resource type) → (output table + merge policy).

The reference's EtlTask hierarchy (cumulus_etl/etl/tasks/base.py:23-77,
basic task configs etl/tasks/basic_tasks.py:11-138, registry
etl/tasks/task_factory.py:18-80). Here a task is pure configuration — the
pipeline composes scan → scrub → merge from it; there is no per-task
code for the basic resource tasks.

Ordering parity: Patient/Encounter run first (codebook mappings cached
for reversibility), Medication before MedicationRequest (J7 linkage,
base.py:398-404).
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from cumulus_etl_spark.sinks import MergePolicy


@dataclass(frozen=True)
class TaskDef:
    name: str
    resource_type: str
    table_name: str
    policy: MergePolicy = field(default_factory=MergePolicy)

    def fields(self, census: Mapping[str, set[str]]) -> dict[str, set[str]]:
        """The top-level fields the task parses, scrubs and stores, in
        ``parse_lines``' form: the keys a census found for its type and
        the ones its merge reads. The table's pointer keeps the full
        contract."""
        present = census.get(self.resource_type, set())
        return {self.resource_type: present | self.policy.read_columns}


def _basic(resource_type: str) -> TaskDef:
    return TaskDef(
        name=resource_type.lower(),
        resource_type=resource_type,
        table_name=resource_type.lower(),
    )


# Patient & Encounter first (codebook caching + downstream refs), then
# alphabetic, with Medication ahead of MedicationRequest.
BASIC_TASKS: tuple[TaskDef, ...] = tuple(
    _basic(rt)
    for rt in (
        "Patient",
        "Encounter",
        "AllergyIntolerance",
        "Condition",
        "Device",
        "DiagnosticReport",
        "DocumentReference",
        "EpisodeOfCare",
        "Immunization",
        "Location",
        "Medication",
        "MedicationDispense",
        "MedicationRequest",
        "Observation",
        "Organization",
        "Practitioner",
        "PractitionerRole",
        "Procedure",
        "ServiceRequest",
        "Specimen",
    )
)

_BY_NAME = {t.name: t for t in BASIC_TASKS}


def select_tasks(
    names: list[str] | None = None, available_resources: set[str] | None = None
) -> list[TaskDef]:
    """Requested ∩ available, preserving canonical order
    (ref etl/pipeline.py:119-164 check_available_resources)."""
    tasks = list(BASIC_TASKS) if names is None else [_BY_NAME[n.lower()] for n in names]
    if available_resources is not None:
        tasks = [t for t in tasks if t.resource_type in available_resources]
    return tasks
