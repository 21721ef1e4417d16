"""Structured error taxonomy — reference errors.ts:6-53 parity.

Codes surface in three places: the exact-path reader's errors frame
(field-mismatch / record-size / quote families), schema validation
(Validation family), and delimiter detection. Every error is DATA
(a row in an errors DataFrame), never a per-row exception — the columnar
translation of the reference's error-array + onError callback surface.
"""

from __future__ import annotations

# code -> type category (errors.ts:6-13)
ERROR_TYPES: dict[str, str] = {
    # Quotes
    "MissingQuotes": "Quotes",
    "InvalidQuotes": "Quotes",
    "QuoteNotClosed": "Quotes",
    "InvalidClosingQuote": "Quotes",
    "NonTrimableCharAfterClosingQuote": "Quotes",
    # Delimiter
    "UndetectableDelimiter": "Delimiter",
    "InvalidDelimiter": "Delimiter",
    # FieldMismatch
    "TooFewFields": "FieldMismatch",
    "TooManyFields": "FieldMismatch",
    "InvalidColumnCount": "FieldMismatch",
    # InvalidArgument
    "InvalidArgument": "InvalidArgument",
    "InvalidOption": "InvalidArgument",
    "InvalidColumnHeader": "InvalidArgument",
    # RecordSize
    "MaxRecordSize": "RecordSize",
    # Validation
    "InvalidCast": "Validation",
    "ConstraintViolation": "Validation",
}
