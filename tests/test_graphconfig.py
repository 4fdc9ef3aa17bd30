"""GraphConfigStore: init/set/show/drop with the graph-empty guard
(GraphConfigProcedures.java semantics)."""

import os

import pytest

from neosemantics_spark.config import (
    ARRAY,
    KEEP,
    GraphConfig,
    GraphConfigNotFound,
    GraphConfigStore,
    GraphNotEmptyError,
)


def test_graphconfig_crud(tmp_path):
    store = GraphConfigStore(str(tmp_path / "cfg"))
    with pytest.raises(GraphConfigNotFound):
        store.show()
    cfg = store.init(handle_vocab_uris=KEEP)
    assert store.show() == cfg
    cfg2 = store.set(handle_multival=ARRAY)
    assert cfg2.handle_vocab_uris == KEEP and cfg2.handle_multival == ARRAY
    # persisted across instances
    again = GraphConfigStore(str(tmp_path / "cfg"))
    assert again.show() == cfg2
    again.drop()
    with pytest.raises(GraphConfigNotFound):
        again.show()
    with pytest.raises(GraphConfigNotFound):
        GraphConfigStore(str(tmp_path / "cfg")).set(keep_lang_tag=True)


def test_graphconfig_guard_when_graph_nonempty(tmp_path):
    graph = tmp_path / "triples"
    store = GraphConfigStore(str(tmp_path / "cfg2"), graph_dir=str(graph))
    store.init()  # empty graph: ok
    graph.mkdir()
    (graph / "run_id=x").mkdir()
    for op in ("init", "set", "drop"):
        with pytest.raises(GraphNotEmptyError):
            getattr(store, op)()


def test_graphconfig_set_rejects_unknown_key(tmp_path):
    store = GraphConfigStore(str(tmp_path / "cfg3"))
    store.init()
    with pytest.raises(TypeError):
        store.set(not_a_real_setting=1)
    # the stored config is unchanged after the failed set
    assert store.show() == GraphConfig()


def test_graphconfig_loads_config_stored_with_retired_fields(tmp_path):
    """A config stored before verify_uri_syntax, stream_triple_limit and
    shuffle_partitions were removed still loads; any other unknown key
    is still refused."""
    stored = (
        '{"apply_neo4j_naming": false, "custom_data_type_prop_list": null, '
        '"handle_multival": "ARRAY", "handle_rdf_types": "LABELS", '
        '"handle_vocab_uris": "KEEP", "hot_predicate_salt": 16, '
        '"keep_custom_data_types": false, "keep_lang_tag": false, '
        '"language_filter": null, "multival_prop_list": null, '
        '"predicate_exclusion_list": null, "shuffle_partitions": 32, '
        '"stream_triple_limit": 1000, "strict_data_type_check": false, '
        '"verify_uri_syntax": true}'
    )
    want = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    assert GraphConfig.from_json(stored) == want
    root = tmp_path / "cfg4"
    root.mkdir()
    (root / "_graph_config.json").write_text(stored)
    assert GraphConfigStore(str(root)).show() == want
    with pytest.raises(TypeError):
        GraphConfig.from_json('{"not_a_real_setting": 1}')
