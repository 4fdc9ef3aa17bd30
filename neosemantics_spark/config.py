"""GraphConfig — the semantic knob set of the reference, as a dataclass.

Mirrors the ~20 settings of n10s' `_GraphConfig` singleton node
(/root/reference/src/main/java/n10s/graphconfig/GraphConfig.java:88-157)
and the parser-level `RDFParserConfig`
(/root/reference/src/main/java/n10s/graphconfig/RDFParserConfig.java:31-54).

In the reference this is graph state; here it is a plain value serialized
to JSON next to the output tables (no coordination needed — every Spark
task sees the same broadcast value).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from typing import List, Optional

# handleVocabUris modes (GraphConfig.java:24-34)
SHORTEN = "SHORTEN"
SHORTEN_STRICT = "SHORTEN_STRICT"
IGNORE = "IGNORE"
MAP = "MAP"
KEEP = "KEEP"

# handleMultival (GraphConfig.java:36-41)
OVERWRITE = "OVERWRITE"
ARRAY = "ARRAY"

# handleRDFTypes (GraphConfig.java:43-49)
LABELS = "LABELS"
NODES = "NODES"
LABELS_AND_NODES = "LABELS_AND_NODES"

# Nine pre-seeded standard namespaces (NsPrefixMap.java:16-30).
STANDARD_PREFIXES = {
    "sch": "http://schema.org/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "skosxl": "http://www.w3.org/2008/05/skos-xl#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "sh": "http://www.w3.org/ns/shacl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "exterms": "http://www.example.com/terms/",
}

PREFIX_SEPARATOR = "__"  # graphconfig/Params.java:19
CUSTOM_DATA_TYPE_SEPARATOR = "^^"  # graphconfig/Params.java:20-25
BNODE_PREFIX = "bnode://"  # RDFToLPGStatementProcessor.java:399


# fields that no code read; configs stored before their removal still load
_RETIRED_FIELDS = ("verify_uri_syntax", "stream_triple_limit", "shuffle_partitions")


@dataclass
class GraphConfig:
    handle_vocab_uris: str = SHORTEN
    handle_multival: str = OVERWRITE
    handle_rdf_types: str = LABELS
    keep_lang_tag: bool = False
    keep_custom_data_types: bool = False
    apply_neo4j_naming: bool = False
    multival_prop_list: Optional[List[str]] = None
    custom_data_type_prop_list: Optional[List[str]] = None
    # parser-level (RDFParserConfig.java:31-54)
    predicate_exclusion_list: Optional[List[str]] = None
    language_filter: Optional[str] = None
    strict_data_type_check: bool = False
    # spark-side knob (no reference analogue; commitSize is replaced by
    # partitioning — SURVEY.md §1.6)
    hot_predicate_salt: int = 16

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "GraphConfig":
        d = json.loads(s)
        for k in _RETIRED_FIELDS:
            d.pop(k, None)
        return GraphConfig(**d)

    @property
    def is_rdf_mode(self) -> bool:
        # SHORTEN/KEEP ⇒ RDF-aware graph; IGNORE/MAP ⇒ plain LPG
        # (GraphConfig.java:228-240)
        return self.handle_vocab_uris in (SHORTEN, SHORTEN_STRICT, KEEP)


class GraphConfigNotFound(LookupError):
    pass


class GraphNotEmptyError(RuntimeError):
    pass


class GraphConfigStore:
    """Persistent graph-config singleton — the `_GraphConfig` node analogue
    with the n10s.graphconfig.init/set/show/drop procedure semantics
    (/root/reference/src/main/java/n10s/graphconfig/GraphConfigProcedures.java):
    init creates-or-overwrites, set mutates an existing config, drop
    removes it — and ALL writes are refused once the graph has data (the
    reference's graphIsEmpty() guard), because changing import semantics
    under an existing graph silently corrupts it.

    Storage is one JSON file next to the output tables; `graph_dir` is the
    directory whose non-emptiness means "the graph exists" (e.g. the
    checkpoint's triples root)."""

    def __init__(self, root: str, graph_dir: Optional[str] = None):
        import os

        self.path = os.path.join(root, "_graph_config.json")
        self.graph_dir = graph_dir

    def _graph_is_empty(self) -> bool:
        import os

        if self.graph_dir is None:
            return True
        return not (os.path.isdir(self.graph_dir) and os.listdir(self.graph_dir))

    def _guard(self, op: str) -> None:
        if not self._graph_is_empty():
            raise GraphNotEmptyError(
                f"cannot {op} graph config: the graph is not empty "
                "(GraphConfigProcedures semantics — changing import "
                "semantics under existing data corrupts the graph)"
            )

    def init(self, **props) -> GraphConfig:
        """Create or overwrite (GraphConfigProcedures.init)."""
        import os

        self._guard("init")
        cfg = GraphConfig(**props)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as f:
            f.write(cfg.to_json())
        return cfg

    def set(self, **props) -> GraphConfig:
        """Update an existing config (GraphConfigProcedures.set — raises
        GraphConfigNotFound when init was never called)."""
        self._guard("set")
        cur = self.show()
        merged = {**json.loads(cur.to_json()), **props}
        cfg = GraphConfig(**merged)
        with open(self.path, "w") as f:
            f.write(cfg.to_json())
        return cfg

    def show(self) -> GraphConfig:
        import os

        if not os.path.exists(self.path):
            raise GraphConfigNotFound("no graph config — run init() first")
        with open(self.path) as f:
            return GraphConfig.from_json(f.read())

    def drop(self) -> None:
        import os

        self._guard("drop")
        if not os.path.exists(self.path):
            raise GraphConfigNotFound("no graph config — run init() first")
        os.remove(self.path)
