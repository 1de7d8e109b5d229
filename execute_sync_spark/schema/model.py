"""The dynamic document-schema tree.

Mirrors the semantics of the reference's schema system
(/root/reference/src/internal/execute/schema.go:16-32): the schema is *not*
fixed in code — it is fetched (or loaded from a fixture file) as JSON of shape

    RootSchema      = {docType: DocumentSchema}
    DocumentSchema  = {fieldName: FieldMetadata}
    FieldMetadata   = {NAME, ACTIVE, TYPE, NULLABLE, SIZE?, RECORD_TYPE?,
                       FORMULA?, DOCUMENT_TYPE?, DATE_UNZONED?}

and compiled at runtime. ``RECORD_TYPE`` recurses (RECORD / RECORD LIST).

``filter_inactive`` mirrors the recursive inactive-field pruning applied when
HIDE_INACTIVE_FIELDS is set (schema.go:96-119). ``view_forest`` is the one
walk that turns the tree into the list of views every dialect renders.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, replace
from typing import Callable, Optional

log = logging.getLogger(__name__)

# Field type constants — the complete set the reference's view generators
# switch on (/root/reference/src/internal/warehouses/snowflake/snowflake.go:336-359).
SCALAR_TYPES = frozenset({"TEXT", "GUID", "UWI", "INTEGER", "DECIMAL", "BOOLEAN", "DATETIME"})
T_DOCUMENT = "DOCUMENT"
T_RECORD = "RECORD"
T_RECORD_LIST = "RECORD LIST"


@dataclass
class FieldMetadata:
    name: str
    active: bool = True
    type: str = "TEXT"
    nullable: bool = True
    size: Optional[int] = None
    record_type: Optional[dict[str, "FieldMetadata"]] = None
    formula: Optional[str] = None
    document_type: Optional[str] = None
    date_unzoned: bool = False

    @property
    def is_calc(self) -> bool:
        return self.formula is not None and self.formula != ""


# DocumentSchema / RootSchema are plain dicts to keep recursion simple.
DocumentSchema = dict[str, FieldMetadata]
RootSchema = dict[str, DocumentSchema]


def _parse_field(name: str, raw: dict) -> FieldMetadata:
    record_type = None
    if raw.get("RECORD_TYPE"):
        record_type = {k: _parse_field(k, v) for k, v in raw["RECORD_TYPE"].items()}
    return FieldMetadata(
        name=raw.get("NAME", name),
        active=bool(raw.get("ACTIVE", True)),
        type=str(raw.get("TYPE", "TEXT")).upper(),
        nullable=bool(raw.get("NULLABLE", True)),
        size=raw.get("SIZE"),
        record_type=record_type,
        formula=raw.get("FORMULA"),
        document_type=raw.get("DOCUMENT_TYPE"),
        date_unzoned=bool(raw.get("DATE_UNZONED", False)),
    )


def parse_root_schema(raw: dict) -> RootSchema:
    """JSON dict (as returned by GET /fetch/document/schema) -> RootSchema."""
    return {
        doc_type: {fname: _parse_field(fname, fmeta) for fname, fmeta in doc_schema.items()}
        for doc_type, doc_schema in raw.items()
    }


def load_root_schema(path: str) -> RootSchema:
    with open(path) as f:
        return parse_root_schema(json.load(f))


def _drop_fields(root: RootSchema, drop: Callable[[FieldMetadata], bool]) -> RootSchema:
    """A new tree without the fields ``drop`` selects, at every depth; the
    input is not mutated."""

    def _filter_doc(doc: DocumentSchema) -> DocumentSchema:
        return {
            fname: fmeta if fmeta.record_type is None
            else replace(fmeta, record_type=_filter_doc(fmeta.record_type))
            for fname, fmeta in doc.items()
            if not drop(fmeta)
        }

    return {doc_type: _filter_doc(doc) for doc_type, doc in root.items()}


def filter_inactive(root: RootSchema) -> RootSchema:
    """Recursively drop fields with ACTIVE == false (schema.go:96-119)."""
    return _drop_fields(root, lambda f: not f.active)


def filter_calcs(root: RootSchema) -> RootSchema:
    """Drop FORMULA (calculated) fields — the state when the feed is fetched
    without calc=true (schema.go:51-53, config INCLUDE_CALCS)."""
    return _drop_fields(root, lambda f: f.is_calc)


@dataclass(frozen=True)
class ViewNode:
    """One view of the forest, in dialect-neutral terms.

    ``path`` is the record's field names counted from the document root, or
    from the list item when the view flattens a list; ``list_path`` is the
    path of that RECORD LIST from the document root (None when the view
    reads one row per document). ``fields`` are the scalar and DOCUMENT
    fields the view projects, in schema order.
    """

    name: str
    doc_type: str
    is_root: bool
    path: tuple[str, ...]
    list_path: Optional[tuple[str, ...]]
    fields: tuple[tuple[str, FieldMetadata], ...]


def view_forest(root: RootSchema) -> list[ViewNode]:
    """The view forest every dialect renders (snowflake.go:314-379, SURVEY
    §2.V): one view per doc type, ``<parent>_<field>`` per nested RECORD and
    RECORD LIST, children before their parent, in schema order.

    Skipped everywhere: fields named DOCUMENT_ID (the doc id is already
    projected), a RECORD LIST inside a list item and unknown types — the last
    two with a warning (snowflake.go:351-358).
    """
    out: list[ViewNode] = []

    def _walk(doc_type: str, name: str, record: DocumentSchema, path: tuple[str, ...],
              list_path: Optional[tuple[str, ...]]) -> None:
        fields: list[tuple[str, FieldMetadata]] = []
        for fname, fmeta in record.items():
            if fname == "DOCUMENT_ID":
                continue
            if fmeta.type in SCALAR_TYPES or fmeta.type == T_DOCUMENT:
                fields.append((fname, fmeta))
            elif fmeta.type == T_RECORD:
                _walk(doc_type, f"{name}_{fname}", fmeta.record_type or {},
                      path + (fname,), list_path)
            elif fmeta.type == T_RECORD_LIST:
                if list_path is not None:
                    log.warning("skipping %s_%s: list-in-list unsupported", name, fname)
                    continue
                _walk(doc_type, f"{name}_{fname}", fmeta.record_type or {},
                      (), path + (fname,))
            else:
                log.warning("skipping %s.%s of unknown type %s", name, fname, fmeta.type)
        is_root = list_path is None and not path
        out.append(ViewNode(name, doc_type, is_root, path, list_path, tuple(fields)))

    for doc_type, doc_schema in root.items():
        _walk(doc_type, doc_type, doc_schema, (), None)
    return out
