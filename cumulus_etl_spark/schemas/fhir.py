"""Contractual FHIR R4 StructType schemas.

The reference computes a wide per-resource-type schema from the FHIR spec
(via cumulus-fhir-support, cumulus_etl/etl/tasks/base.py:458-467) so that
"downstream SQL can be dumber" — columns exist even when absent from the
data, and empty tables still carry full schemas (etl/init/cli.py:32-46).

We build the same contract natively as Spark ``StructType``s, composed
from the standard FHIR element types. Never infer schemas from data:
inference makes column order/nullability drift between runs (SURVEY §7.4).

Timestamps/dates are stored as ISO-8601 **strings** (not timestamp
columns) for NDJSON round-trip parity (completion/schema.py:47-51);
queries cast when comparing.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

S = StringType()
B = BooleanType()
L = LongType()
D = DoubleType()


def _struct(**fields) -> StructType:
    return StructType([StructField(k, v, nullable=True) for k, v in fields.items()])


def _arr(t) -> ArrayType:
    return ArrayType(t, containsNull=True)


# ---- element types (http://hl7.org/fhir/R4/datatypes.html) ----

CODING = _struct(system=S, version=S, code=S, display=S, userSelected=B)
CODEABLE_CONCEPT = _struct(coding=_arr(CODING), text=S)
REFERENCE = _struct(reference=S, type=S, display=S)
PERIOD = _struct(start=S, end=S)
QUANTITY = _struct(value=D, comparator=S, unit=S, system=S, code=S)
RANGE = _struct(low=QUANTITY, high=QUANTITY)
RATIO = _struct(numerator=QUANTITY, denominator=QUANTITY)
IDENTIFIER = _struct(
    use=S, type=CODEABLE_CONCEPT, system=S, value=S, period=PERIOD, assigner=REFERENCE
)
HUMAN_NAME = _struct(use=S, text=S, family=S, given=_arr(S), prefix=_arr(S), suffix=_arr(S))
ADDRESS = _struct(
    use=S, type=S, text=S, line=_arr(S), city=S, district=S, state=S, postalCode=S, country=S
)
CONTACT_POINT = _struct(system=S, value=S, use=S, rank=L)
ATTACHMENT = _struct(contentType=S, language=S, data=S, url=S, size=L, hash=S, title=S, creation=S)
ANNOTATION = _struct(authorReference=REFERENCE, authorString=S, time=S, text=S)

# Extensions are recursive in FHIR; we carry one level of common value[x]
# members — the de-id allow-list drops unknown extensions anyway.
_EXTENSION_LEAF = _struct(
    url=S,
    valueString=S,
    valueCode=S,
    valueBoolean=B,
    valueInteger=L,
    valuePositiveInt=L,
    valueUnsignedInt=L,
    valueDecimal=D,
    valueDate=S,
    valueDateTime=S,
    valueInstant=S,
    valueTime=S,
    valueId=S,
    valueUri=S,
    valueUrl=S,
    valueUuid=S,
    valueOid=S,
    valueCanonical=S,
    valueBase64Binary=S,
    valueCoding=CODING,
    valueCodeableConcept=CODEABLE_CONCEPT,
    valueReference=REFERENCE,
    valueQuantity=QUANTITY,
    valueAge=QUANTITY,
    valueCount=QUANTITY,
    valueDistance=QUANTITY,
    valueDuration=QUANTITY,
    valuePeriod=PERIOD,
    valueRange=RANGE,
    valueRatio=RATIO,
    valueAddress=ADDRESS,
    valueIdentifier=IDENTIFIER,
    valueMoney=_struct(value=D, currency=S),
)

# Extensions are recursive in FHIR; carry ONE nested level (complex
# extensions like us-core-race pack their parts a level down), leaves
# below that — the de-id allow-list drops unknown URLs anyway.
EXTENSION = StructType(
    [StructField("extension", _arr(_EXTENSION_LEAF), nullable=True)]
    + list(_EXTENSION_LEAF.fields)
)

META = _struct(versionId=S, lastUpdated=S, source=S, profile=_arr(S), security=_arr(CODING), tag=_arr(CODING))


def _backbone(**fields) -> StructType:
    """BackboneElement: a nested element carrying its own extension AND
    modifierExtension arrays. modifierExtension must exist in the schema
    for the scrubber's nested-veto to see it — a meaning-altering modifier
    on a backbone element vetoes the whole resource at any depth."""
    base = {"extension": _arr(EXTENSION), "modifierExtension": _arr(EXTENSION)}
    base.update(fields)
    return _struct(**base)


# Shared datatypes (http://hl7.org/fhir/R4/datatypes.html)
SAMPLED_DATA = _struct(
    origin=QUANTITY, period=D, factor=D, lowerLimit=D, upperLimit=D, dimensions=L, data=S
)
TIMING = _backbone(
    event=_arr(S),
    repeat=_struct(
        boundsDuration=QUANTITY,
        boundsRange=RANGE,
        boundsPeriod=PERIOD,
        count=L,
        countMax=L,
        duration=D,
        durationMax=D,
        durationUnit=S,
        frequency=L,
        frequencyMax=L,
        period=D,
        periodMax=D,
        periodUnit=S,
        dayOfWeek=_arr(S),
        timeOfDay=_arr(S),
        when=_arr(S),
        offset=L,
    ),
    code=CODEABLE_CONCEPT,
)

# Dosage is a BackboneElement shared by MedicationRequest and
# MedicationDispense (http://hl7.org/fhir/R4/dosage.html subset).
DOSAGE = _backbone(
    sequence=L,
    text=S,
    additionalInstruction=_arr(CODEABLE_CONCEPT),
    patientInstruction=S,
    timing=TIMING,
    asNeededBoolean=B,
    asNeededCodeableConcept=CODEABLE_CONCEPT,
    site=CODEABLE_CONCEPT,
    route=CODEABLE_CONCEPT,
    method=CODEABLE_CONCEPT,
    doseAndRate=_arr(
        _struct(
            type=CODEABLE_CONCEPT,
            doseQuantity=QUANTITY,
            doseRange=RANGE,
            rateRatio=RATIO,
            rateRange=RANGE,
            rateQuantity=QUANTITY,
        )
    ),
    maxDosePerPeriod=RATIO,
    maxDosePerAdministration=QUANTITY,
    maxDosePerLifetime=QUANTITY,
)


# Contained resources (DomainResource.contained) are heterogeneous by
# design. We carry a UNION schema of the types that practically appear
# contained (Patient, Medication, Organization — contained meds/orgs
# from pharmacy feeds, contained patients from narrative-only bundles)
# plus the base Resource envelope for anything else; the scrubber gates
# every field by resourceType (deid/scrubber.py:_contained_expr).
# Omitted on purpose: Patient.name/telecom (scrub-dropped for every
# branch, and `name` would type-conflict with Organization.name) and
# Organization.contact (type-conflicts with Patient.contact; both are
# rare inside contained resources). Depth 1 only — contained-inside-
# contained is dropped (ref recurses, a documented divergence).
CONTAINED = _struct(
    resourceType=S,
    id=S,
    meta=META,
    implicitRules=S,
    language=S,
    extension=_arr(EXTENSION),
    modifierExtension=_arr(EXTENSION),
    # Patient branch
    active=B,
    gender=S,
    birthDate=S,
    deceasedBoolean=B,
    deceasedDateTime=S,
    address=_arr(ADDRESS),
    maritalStatus=CODEABLE_CONCEPT,
    multipleBirthBoolean=B,
    multipleBirthInteger=L,
    communication=_arr(_backbone(language=CODEABLE_CONCEPT, preferred=B)),
    generalPractitioner=_arr(REFERENCE),
    managingOrganization=REFERENCE,
    link=_arr(_backbone(other=REFERENCE, type=S)),
    # Medication branch
    code=CODEABLE_CONCEPT,
    status=S,
    manufacturer=REFERENCE,
    form=CODEABLE_CONCEPT,
    amount=RATIO,
    ingredient=_arr(
        _backbone(
            itemCodeableConcept=CODEABLE_CONCEPT,
            itemReference=REFERENCE,
            isActive=B,
            strength=RATIO,
        )
    ),
    batch=_backbone(lotNumber=S, expirationDate=S),
    # Organization branch
    identifier=_arr(IDENTIFIER),
    type=_arr(CODEABLE_CONCEPT),
    name=S,
    alias=_arr(S),
    partOf=REFERENCE,
    endpoint=_arr(REFERENCE),
)


def _resource(**fields) -> StructType:
    """Base DomainResource envelope + resource-specific fields."""
    base = {
        "resourceType": S,
        "id": S,
        "meta": META,
        "implicitRules": S,
        "language": S,
        "extension": _arr(EXTENSION),
        "modifierExtension": _arr(EXTENSION),
        "contained": _arr(CONTAINED),
    }
    base.update(fields)
    return _struct(**base)


# ---- resource schemas (the task-relevant subset of FHIR R4) ----

_RESOURCES: dict[str, StructType] = {
    "Patient": _resource(
        identifier=_arr(IDENTIFIER),
        active=B,
        name=_arr(HUMAN_NAME),
        telecom=_arr(CONTACT_POINT),
        gender=S,
        birthDate=S,
        deceasedBoolean=B,
        deceasedDateTime=S,
        address=_arr(ADDRESS),
        maritalStatus=CODEABLE_CONCEPT,
        multipleBirthBoolean=B,
        multipleBirthInteger=L,
        contact=_arr(
            _backbone(
                relationship=_arr(CODEABLE_CONCEPT),
                name=HUMAN_NAME,
                telecom=_arr(CONTACT_POINT),
                address=ADDRESS,
                gender=S,
                organization=REFERENCE,
                period=PERIOD,
            )
        ),
        communication=_arr(_backbone(language=CODEABLE_CONCEPT, preferred=B)),
        link=_arr(_backbone(other=REFERENCE, type=S)),
        generalPractitioner=_arr(REFERENCE),
        managingOrganization=REFERENCE,
    ),
    "Encounter": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        **{"class": CODING},
        type=_arr(CODEABLE_CONCEPT),
        serviceType=CODEABLE_CONCEPT,
        priority=CODEABLE_CONCEPT,
        subject=REFERENCE,
        statusHistory=_arr(_backbone(status=S, period=PERIOD)),
        classHistory=_arr(_backbone(**{"class": CODING}, period=PERIOD)),
        episodeOfCare=_arr(REFERENCE),
        basedOn=_arr(REFERENCE),
        participant=_arr(
            _backbone(type=_arr(CODEABLE_CONCEPT), period=PERIOD, individual=REFERENCE)
        ),
        appointment=_arr(REFERENCE),
        period=PERIOD,
        length=_struct(value=D, unit=S, system=S, code=S),
        reasonCode=_arr(CODEABLE_CONCEPT),
        reasonReference=_arr(REFERENCE),
        diagnosis=_arr(_backbone(condition=REFERENCE, use=CODEABLE_CONCEPT, rank=L)),
        account=_arr(REFERENCE),
        hospitalization=_backbone(
            preAdmissionIdentifier=IDENTIFIER,
            origin=REFERENCE,
            admitSource=CODEABLE_CONCEPT,
            reAdmission=CODEABLE_CONCEPT,
            dietPreference=_arr(CODEABLE_CONCEPT),
            specialCourtesy=_arr(CODEABLE_CONCEPT),
            specialArrangement=_arr(CODEABLE_CONCEPT),
            destination=REFERENCE,
            dischargeDisposition=CODEABLE_CONCEPT,
        ),
        location=_arr(
            _backbone(
                location=REFERENCE,
                status=S,
                physicalType=CODEABLE_CONCEPT,
                period=PERIOD,
            )
        ),
        serviceProvider=REFERENCE,
        partOf=REFERENCE,
    ),
    "Condition": _resource(
        identifier=_arr(IDENTIFIER),
        clinicalStatus=CODEABLE_CONCEPT,
        verificationStatus=CODEABLE_CONCEPT,
        category=_arr(CODEABLE_CONCEPT),
        severity=CODEABLE_CONCEPT,
        code=CODEABLE_CONCEPT,
        bodySite=_arr(CODEABLE_CONCEPT),
        subject=REFERENCE,
        encounter=REFERENCE,
        onsetDateTime=S,
        onsetAge=QUANTITY,
        onsetPeriod=PERIOD,
        onsetRange=RANGE,
        abatementDateTime=S,
        abatementAge=QUANTITY,
        abatementPeriod=PERIOD,
        abatementRange=RANGE,
        recordedDate=S,
        recorder=REFERENCE,
        asserter=REFERENCE,
        stage=_arr(
            _backbone(
                summary=CODEABLE_CONCEPT,
                assessment=_arr(REFERENCE),
                type=CODEABLE_CONCEPT,
            )
        ),
        evidence=_arr(
            _backbone(code=_arr(CODEABLE_CONCEPT), detail=_arr(REFERENCE))
        ),
    ),
    "Observation": _resource(
        identifier=_arr(IDENTIFIER),
        basedOn=_arr(REFERENCE),
        partOf=_arr(REFERENCE),
        status=S,
        category=_arr(CODEABLE_CONCEPT),
        code=CODEABLE_CONCEPT,
        focus=_arr(REFERENCE),
        subject=REFERENCE,
        encounter=REFERENCE,
        effectiveDateTime=S,
        effectivePeriod=PERIOD,
        effectiveTiming=TIMING,
        effectiveInstant=S,
        issued=S,
        performer=_arr(REFERENCE),
        valueQuantity=QUANTITY,
        valueCodeableConcept=CODEABLE_CONCEPT,
        valueString=S,
        valueBoolean=B,
        valueInteger=L,
        valueRange=RANGE,
        valueRatio=RATIO,
        valueSampledData=SAMPLED_DATA,
        valueTime=S,
        valueDateTime=S,
        valuePeriod=PERIOD,
        dataAbsentReason=CODEABLE_CONCEPT,
        interpretation=_arr(CODEABLE_CONCEPT),
        bodySite=CODEABLE_CONCEPT,
        method=CODEABLE_CONCEPT,
        specimen=REFERENCE,
        device=REFERENCE,
        referenceRange=_arr(_backbone(low=QUANTITY, high=QUANTITY, type=CODEABLE_CONCEPT, text=S)),
        hasMember=_arr(REFERENCE),
        derivedFrom=_arr(REFERENCE),
        component=_arr(
            _backbone(
                code=CODEABLE_CONCEPT,
                valueQuantity=QUANTITY,
                valueCodeableConcept=CODEABLE_CONCEPT,
                valueString=S,
                valueBoolean=B,
                valueInteger=L,
                valueRange=RANGE,
                valueRatio=RATIO,
                valueSampledData=SAMPLED_DATA,
                valueTime=S,
                valueDateTime=S,
                valuePeriod=PERIOD,
                dataAbsentReason=CODEABLE_CONCEPT,
                interpretation=_arr(CODEABLE_CONCEPT),
            )
        ),
    ),
    "DocumentReference": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        docStatus=S,
        type=CODEABLE_CONCEPT,
        category=_arr(CODEABLE_CONCEPT),
        subject=REFERENCE,
        date=S,
        author=_arr(REFERENCE),
        authenticator=REFERENCE,
        custodian=REFERENCE,
        relatesTo=_arr(_backbone(code=S, target=REFERENCE)),
        securityLabel=_arr(CODEABLE_CONCEPT),
        content=_arr(_backbone(attachment=ATTACHMENT, format=CODING)),
        context=_backbone(
            encounter=_arr(REFERENCE),
            event=_arr(CODEABLE_CONCEPT),
            period=PERIOD,
            facilityType=CODEABLE_CONCEPT,
            practiceSetting=CODEABLE_CONCEPT,
            sourcePatientInfo=REFERENCE,
            related=_arr(REFERENCE),
        ),
    ),
    "DiagnosticReport": _resource(
        identifier=_arr(IDENTIFIER),
        basedOn=_arr(REFERENCE),
        status=S,
        category=_arr(CODEABLE_CONCEPT),
        code=CODEABLE_CONCEPT,
        subject=REFERENCE,
        encounter=REFERENCE,
        effectiveDateTime=S,
        effectivePeriod=PERIOD,
        issued=S,
        performer=_arr(REFERENCE),
        resultsInterpreter=_arr(REFERENCE),
        specimen=_arr(REFERENCE),
        result=_arr(REFERENCE),
        imagingStudy=_arr(REFERENCE),
        media=_arr(_backbone(comment=S, link=REFERENCE)),
        conclusion=S,
        conclusionCode=_arr(CODEABLE_CONCEPT),
        presentedForm=_arr(ATTACHMENT),
    ),
    "MedicationRequest": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        statusReason=CODEABLE_CONCEPT,
        intent=S,
        category=_arr(CODEABLE_CONCEPT),
        priority=S,
        doNotPerform=B,
        reportedBoolean=B,
        reportedReference=REFERENCE,
        medicationCodeableConcept=CODEABLE_CONCEPT,
        medicationReference=REFERENCE,
        subject=REFERENCE,
        encounter=REFERENCE,
        supportingInformation=_arr(REFERENCE),
        authoredOn=S,
        requester=REFERENCE,
        performer=REFERENCE,
        performerType=CODEABLE_CONCEPT,
        recorder=REFERENCE,
        reasonCode=_arr(CODEABLE_CONCEPT),
        reasonReference=_arr(REFERENCE),
        instantiatesCanonical=_arr(S),
        instantiatesUri=_arr(S),
        basedOn=_arr(REFERENCE),
        courseOfTherapyType=CODEABLE_CONCEPT,
        insurance=_arr(REFERENCE),
        note=_arr(ANNOTATION),
        dosageInstruction=_arr(DOSAGE),
        dispenseRequest=_backbone(
            initialFill=_backbone(quantity=QUANTITY, duration=QUANTITY),
            dispenseInterval=QUANTITY,
            validityPeriod=PERIOD,
            numberOfRepeatsAllowed=L,
            quantity=QUANTITY,
            expectedSupplyDuration=QUANTITY,
            performer=REFERENCE,
        ),
        substitution=_backbone(
            allowedBoolean=B,
            allowedCodeableConcept=CODEABLE_CONCEPT,
            reason=CODEABLE_CONCEPT,
        ),
        priorPrescription=REFERENCE,
        detectedIssue=_arr(REFERENCE),
        eventHistory=_arr(REFERENCE),
    ),
    "Medication": _resource(
        identifier=_arr(IDENTIFIER),
        code=CODEABLE_CONCEPT,
        status=S,
        manufacturer=REFERENCE,
        form=CODEABLE_CONCEPT,
        amount=RATIO,
        ingredient=_arr(
            _backbone(
                itemCodeableConcept=CODEABLE_CONCEPT,
                itemReference=REFERENCE,
                isActive=B,
                strength=RATIO,
            )
        ),
        batch=_backbone(lotNumber=S, expirationDate=S),
    ),
    "AllergyIntolerance": _resource(
        identifier=_arr(IDENTIFIER),
        clinicalStatus=CODEABLE_CONCEPT,
        verificationStatus=CODEABLE_CONCEPT,
        type=S,
        category=_arr(S),
        criticality=S,
        code=CODEABLE_CONCEPT,
        patient=REFERENCE,
        encounter=REFERENCE,
        onsetDateTime=S,
        onsetAge=QUANTITY,
        onsetPeriod=PERIOD,
        onsetRange=RANGE,
        recordedDate=S,
        recorder=REFERENCE,
        asserter=REFERENCE,
        lastOccurrence=S,
        reaction=_arr(
            _backbone(
                substance=CODEABLE_CONCEPT,
                manifestation=_arr(CODEABLE_CONCEPT),
                description=S,
                onset=S,
                severity=S,
                exposureRoute=CODEABLE_CONCEPT,
            )
        ),
    ),
    "Immunization": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        statusReason=CODEABLE_CONCEPT,
        vaccineCode=CODEABLE_CONCEPT,
        patient=REFERENCE,
        encounter=REFERENCE,
        occurrenceDateTime=S,
        occurrenceString=S,
        recorded=S,
        primarySource=B,
        reportOrigin=CODEABLE_CONCEPT,
        location=REFERENCE,
        manufacturer=REFERENCE,
        lotNumber=S,
        expirationDate=S,
        site=CODEABLE_CONCEPT,
        route=CODEABLE_CONCEPT,
        doseQuantity=QUANTITY,
        performer=_arr(_backbone(function=CODEABLE_CONCEPT, actor=REFERENCE)),
        note=_arr(ANNOTATION),
        reasonCode=_arr(CODEABLE_CONCEPT),
        reasonReference=_arr(REFERENCE),
        isSubpotent=B,
        subpotentReason=_arr(CODEABLE_CONCEPT),
        education=_arr(
            _backbone(documentType=S, reference=S, publicationDate=S, presentationDate=S)
        ),
        programEligibility=_arr(CODEABLE_CONCEPT),
        fundingSource=CODEABLE_CONCEPT,
        reaction=_arr(_backbone(date=S, detail=REFERENCE, reported=B)),
        protocolApplied=_arr(
            _backbone(
                series=S,
                authority=REFERENCE,
                targetDisease=_arr(CODEABLE_CONCEPT),
                doseNumberPositiveInt=L,
                doseNumberString=S,
                seriesDosesPositiveInt=L,
                seriesDosesString=S,
            )
        ),
    ),
    "Procedure": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        statusReason=CODEABLE_CONCEPT,
        category=CODEABLE_CONCEPT,
        code=CODEABLE_CONCEPT,
        subject=REFERENCE,
        encounter=REFERENCE,
        instantiatesCanonical=_arr(S),
        instantiatesUri=_arr(S),
        basedOn=_arr(REFERENCE),
        partOf=_arr(REFERENCE),
        performedDateTime=S,
        performedPeriod=PERIOD,
        performedAge=QUANTITY,
        performedRange=RANGE,
        recorder=REFERENCE,
        asserter=REFERENCE,
        performer=_arr(
            _backbone(function=CODEABLE_CONCEPT, actor=REFERENCE, onBehalfOf=REFERENCE)
        ),
        location=REFERENCE,
        reasonCode=_arr(CODEABLE_CONCEPT),
        reasonReference=_arr(REFERENCE),
        bodySite=_arr(CODEABLE_CONCEPT),
        outcome=CODEABLE_CONCEPT,
        report=_arr(REFERENCE),
        complication=_arr(CODEABLE_CONCEPT),
        complicationDetail=_arr(REFERENCE),
        followUp=_arr(CODEABLE_CONCEPT),
        focalDevice=_arr(_backbone(action=CODEABLE_CONCEPT, manipulated=REFERENCE)),
        usedReference=_arr(REFERENCE),
        usedCode=_arr(CODEABLE_CONCEPT),
    ),
    "ServiceRequest": _resource(
        identifier=_arr(IDENTIFIER),
        instantiatesCanonical=_arr(S),
        instantiatesUri=_arr(S),
        basedOn=_arr(REFERENCE),
        replaces=_arr(REFERENCE),
        status=S,
        intent=S,
        category=_arr(CODEABLE_CONCEPT),
        priority=S,
        doNotPerform=B,
        code=CODEABLE_CONCEPT,
        orderDetail=_arr(CODEABLE_CONCEPT),
        quantityQuantity=QUANTITY,
        quantityRatio=RATIO,
        quantityRange=RANGE,
        subject=REFERENCE,
        encounter=REFERENCE,
        occurrenceDateTime=S,
        occurrencePeriod=PERIOD,
        occurrenceTiming=TIMING,
        asNeededBoolean=B,
        asNeededCodeableConcept=CODEABLE_CONCEPT,
        authoredOn=S,
        requester=REFERENCE,
        performerType=CODEABLE_CONCEPT,
        performer=_arr(REFERENCE),
        locationCode=_arr(CODEABLE_CONCEPT),
        locationReference=_arr(REFERENCE),
        reasonCode=_arr(CODEABLE_CONCEPT),
        reasonReference=_arr(REFERENCE),
        insurance=_arr(REFERENCE),
        supportingInfo=_arr(REFERENCE),
        specimen=_arr(REFERENCE),
        bodySite=_arr(CODEABLE_CONCEPT),
        note=_arr(ANNOTATION),
        relevantHistory=_arr(REFERENCE),
    ),
    "Practitioner": _resource(
        identifier=_arr(IDENTIFIER),
        active=B,
        name=_arr(HUMAN_NAME),
        telecom=_arr(CONTACT_POINT),
        address=_arr(ADDRESS),
        gender=S,
        birthDate=S,
        qualification=_arr(
            _backbone(
                identifier=_arr(IDENTIFIER),
                code=CODEABLE_CONCEPT,
                period=PERIOD,
                issuer=REFERENCE,
            )
        ),
        communication=_arr(CODEABLE_CONCEPT),
    ),
    "PractitionerRole": _resource(
        identifier=_arr(IDENTIFIER),
        active=B,
        period=PERIOD,
        practitioner=REFERENCE,
        organization=REFERENCE,
        code=_arr(CODEABLE_CONCEPT),
        specialty=_arr(CODEABLE_CONCEPT),
        location=_arr(REFERENCE),
        healthcareService=_arr(REFERENCE),
        availableTime=_arr(
            _backbone(daysOfWeek=_arr(S), allDay=B, availableStartTime=S, availableEndTime=S)
        ),
        notAvailable=_arr(_backbone(description=S, during=PERIOD)),
        endpoint=_arr(REFERENCE),
    ),
    "Organization": _resource(
        identifier=_arr(IDENTIFIER),
        active=B,
        type=_arr(CODEABLE_CONCEPT),
        name=S,
        alias=_arr(S),
        telecom=_arr(CONTACT_POINT),
        address=_arr(ADDRESS),
        partOf=REFERENCE,
        contact=_arr(
            _backbone(
                purpose=CODEABLE_CONCEPT,
                name=HUMAN_NAME,
                telecom=_arr(CONTACT_POINT),
                address=ADDRESS,
            )
        ),
        endpoint=_arr(REFERENCE),
    ),
    "Device": _resource(
        identifier=_arr(IDENTIFIER),
        definition=REFERENCE,
        udiCarrier=_arr(
            _backbone(
                deviceIdentifier=S,
                issuer=S,
                jurisdiction=S,
                carrierAIDC=S,
                carrierHRF=S,
                entryType=S,
            )
        ),
        status=S,
        statusReason=_arr(CODEABLE_CONCEPT),
        distinctIdentifier=S,
        manufacturer=S,
        manufactureDate=S,
        expirationDate=S,
        lotNumber=S,
        serialNumber=S,
        deviceName=_arr(_backbone(name=S, type=S)),
        modelNumber=S,
        partNumber=S,
        type=CODEABLE_CONCEPT,
        specialization=_arr(_backbone(systemType=CODEABLE_CONCEPT, version=S)),
        version=_arr(_backbone(type=CODEABLE_CONCEPT, component=IDENTIFIER, value=S)),
        property=_arr(
            _backbone(
                type=CODEABLE_CONCEPT,
                valueQuantity=_arr(QUANTITY),
                valueCode=_arr(CODEABLE_CONCEPT),
            )
        ),
        patient=REFERENCE,
        owner=REFERENCE,
        location=REFERENCE,
        url=S,
        note=_arr(ANNOTATION),
        safety=_arr(CODEABLE_CONCEPT),
        parent=REFERENCE,
    ),
    "EpisodeOfCare": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        statusHistory=_arr(_backbone(status=S, period=PERIOD)),
        type=_arr(CODEABLE_CONCEPT),
        diagnosis=_arr(_backbone(condition=REFERENCE, role=CODEABLE_CONCEPT, rank=L)),
        patient=REFERENCE,
        managingOrganization=REFERENCE,
        period=PERIOD,
        referralRequest=_arr(REFERENCE),
        careManager=REFERENCE,
        team=_arr(REFERENCE),
        account=_arr(REFERENCE),
    ),
    "Location": _resource(
        identifier=_arr(IDENTIFIER),
        status=S,
        operationalStatus=CODING,
        name=S,
        alias=_arr(S),
        description=S,
        mode=S,
        type=_arr(CODEABLE_CONCEPT),
        telecom=_arr(CONTACT_POINT),
        address=ADDRESS,
        physicalType=CODEABLE_CONCEPT,
        managingOrganization=REFERENCE,
        partOf=REFERENCE,
        hoursOfOperation=_arr(
            _backbone(daysOfWeek=_arr(S), allDay=B, openingTime=S, closingTime=S)
        ),
        availabilityExceptions=S,
        endpoint=_arr(REFERENCE),
    ),
    "MedicationDispense": _resource(
        identifier=_arr(IDENTIFIER),
        partOf=_arr(REFERENCE),
        status=S,
        statusReasonCodeableConcept=CODEABLE_CONCEPT,
        statusReasonReference=REFERENCE,
        category=CODEABLE_CONCEPT,
        medicationCodeableConcept=CODEABLE_CONCEPT,
        medicationReference=REFERENCE,
        subject=REFERENCE,
        context=REFERENCE,
        supportingInformation=_arr(REFERENCE),
        performer=_arr(_backbone(function=CODEABLE_CONCEPT, actor=REFERENCE)),
        location=REFERENCE,
        authorizingPrescription=_arr(REFERENCE),
        type=CODEABLE_CONCEPT,
        quantity=QUANTITY,
        daysSupply=QUANTITY,
        whenPrepared=S,
        whenHandedOver=S,
        destination=REFERENCE,
        receiver=_arr(REFERENCE),
        note=_arr(ANNOTATION),
        dosageInstruction=_arr(DOSAGE),
        substitution=_backbone(
            wasSubstituted=B,
            type=CODEABLE_CONCEPT,
            reason=_arr(CODEABLE_CONCEPT),
            responsibleParty=_arr(REFERENCE),
        ),
        detectedIssue=_arr(REFERENCE),
        eventHistory=_arr(REFERENCE),
    ),
    "Specimen": _resource(
        identifier=_arr(IDENTIFIER),
        accessionIdentifier=IDENTIFIER,
        status=S,
        type=CODEABLE_CONCEPT,
        subject=REFERENCE,
        receivedTime=S,
        parent=_arr(REFERENCE),
        request=_arr(REFERENCE),
        collection=_backbone(
            collector=REFERENCE,
            collectedDateTime=S,
            collectedPeriod=PERIOD,
            duration=QUANTITY,
            quantity=QUANTITY,
            method=CODEABLE_CONCEPT,
            bodySite=CODEABLE_CONCEPT,
            fastingStatusCodeableConcept=CODEABLE_CONCEPT,
            fastingStatusDuration=QUANTITY,
        ),
        processing=_arr(
            _backbone(
                description=S,
                procedure=CODEABLE_CONCEPT,
                additive=_arr(REFERENCE),
                timeDateTime=S,
                timePeriod=PERIOD,
            )
        ),
        container=_arr(
            _backbone(
                identifier=_arr(IDENTIFIER),
                description=S,
                type=CODEABLE_CONCEPT,
                capacity=QUANTITY,
                specimenQuantity=QUANTITY,
                additiveCodeableConcept=CODEABLE_CONCEPT,
                additiveReference=REFERENCE,
            )
        ),
        condition=_arr(CODEABLE_CONCEPT),
        note=_arr(ANNOTATION),
    ),
}

FHIR_RESOURCE_TYPES: tuple[str, ...] = tuple(sorted(_RESOURCES))

# Binary-with-metadata schema for multimodal attachments kept out-of-row
# (image/audio/video payloads as opaque bytes; see operators/multimodal.py).
MEDIA_BLOB = _struct(
    content_type=S,
    media_kind=S,  # image | audio | video
    byte_size=L,
    checksum_sha256=S,
    payload=BinaryType(),
)


def schema_for(resource_type: str) -> StructType:
    """Contractual schema for one resource type (raises on unknown)."""
    try:
        return _RESOURCES[resource_type]
    except KeyError:
        raise ValueError(
            f"no contractual schema for resource type {resource_type!r}; "
            f"known: {', '.join(FHIR_RESOURCE_TYPES)}"
        ) from None


def cut_schema(schema: StructType, keep: Iterable[str] | None) -> StructType:
    """``schema``'s top-level fields named in ``keep`` (all when None)."""
    if keep is None:
        return schema
    keep = set(keep)
    return StructType([f for f in schema.fields if f.name in keep])


def wide_schema(resource_types: list[str] | tuple[str, ...]) -> StructType:
    """Union schema across several resource types (for mixed NDJSON dirs).

    FHIR does NOT guarantee same-named fields agree across resource types
    (``Condition.category`` is ``CodeableConcept[]`` while
    ``MedicationDispense.category`` is a scalar ``CodeableConcept``), so a
    scalar-vs-array divergence on the same element type is resolved by
    promoting to the array form; scans parse each type with its own exact
    schema and conform scalars via ``F.array`` afterwards (sources/ndjson.py).
    Any other divergence still raises — none exists in the catalog today.
    """
    fields: dict[str, StructField] = {}
    for rt in resource_types:
        for f in schema_for(rt).fields:
            prev = fields.get(f.name)
            if prev is None or prev.dataType == f.dataType:
                fields.setdefault(f.name, f)
            elif prev.dataType == ArrayType(f.dataType):
                pass  # already promoted
            elif ArrayType(prev.dataType) == f.dataType:
                fields[f.name] = f
            elif isinstance(f.dataType, ArrayType) or isinstance(prev.dataType, ArrayType):
                # scalar vs array of the same element type → array wins
                elem = (
                    f.dataType.elementType
                    if isinstance(f.dataType, ArrayType)
                    else prev.dataType.elementType
                )
                other = prev.dataType if isinstance(f.dataType, ArrayType) else f.dataType
                if elem != other:
                    raise ValueError(f"conflicting types for field {f.name!r} in {rt}")
                fields[f.name] = StructField(f.name, ArrayType(elem), True)
            else:
                raise ValueError(f"conflicting types for field {f.name!r} in {rt}")
    return StructType(list(fields.values()))
