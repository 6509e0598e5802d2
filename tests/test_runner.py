from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mypipe_spark.changelog import write_changelog
from mypipe_spark.runner import build_pipes, register_consumer, run_from_config


def test_build_pipes_validation():
    with pytest.raises(KeyError, match="unknown consumer 'nope'"):
        build_pipes({"consumers": {}, "pipes": {"p": {"consumer": "nope"}}})
    with pytest.raises(KeyError, match="unknown consumer type"):
        build_pipes(
            {
                "consumers": {"c": {"type": "marsprobe"}},
                "pipes": {"p": {"consumer": "c"}},
            }
        )
    # a generic wire codec or kafka consumer codec outside the wire
    # codec table fails at build time, before any query starts
    for consumer, pipe in (
        ({"type": "changelog", "path": "/cl"},
         {"wire": {"flavor": "generic", "codec": "avro"}}),
        ({"type": "kafka", "brokers": "b", "topics": "t", "codec": "avro"}, {}),
    ):
        with pytest.raises(ValueError, match="'avro'.*json, avro_ref"):
            build_pipes(
                {"consumers": {"c": consumer}, "pipes": {"p": {"consumer": "c", **pipe}}}
            )


def test_run_from_config_end_to_end(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=12, num_files=2)
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "cfg_pipe": {
                "consumer": "cl",
                "include-event-condition": "database = 'mypipe' AND table = 'user'",
                "topic-template": "${database}_${table}_generic",
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ckpt"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    out = spark.sql("select * from cfg_pipe")
    expected = (
        spark.read.parquet(src)
        .filter(F.col("op").isin("insert", "update", "delete"))
        .count()
    )
    assert out.count() == expected
    assert out.select("topic").distinct().collect()[0][0] == "mypipe_user_generic"


def test_run_from_config_tx_grouped(spark, tmp_path):
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=8, rollback_prob=0.3, num_files=2)
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "cfg_tx": {
                "consumer": "cl",
                "group-mutations-by-tx": True,
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ckpt_tx"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    out = spark.sql("select * from cfg_tx")
    from mypipe_spark.operators.txgroup import committed_mutations

    # the flag means ONE row per committed transaction — compare both
    # the row count and the per-tx mutation counts against the batch
    # grouped form
    expected = committed_mutations(
        spark.read.parquet(src), group_by_tx=True
    )
    assert out.count() == expected.count()
    assert sorted(
        (r["txid"], r["n_mutations"]) for r in out.collect()
    ) == sorted((r["txid"], r["n_mutations"]) for r in expected.collect())


def test_custom_consumer_registration(spark):
    @register_consumer("static_test")
    def static(spark_, conf):  # pragma: no cover - exercised below
        return spark_.readStream.format("rate").option("rowsPerSecond", 1).load()

    pipes = build_pipes(
        {
            "consumers": {"r": {"type": "static_test"}},
            "pipes": {"p": {"consumer": "r", "mutations-only": False}},
        }
    )
    assert len(pipes) == 1 and pipes[0].pipe_id == "p"


def test_grouped_pipe_with_table_condition_and_topic(spark, tmp_path):
    """The docstring's full config shape must actually work: a
    table-scoped include-event-condition must not swallow the COMMIT
    markers (control rows carry table=NULL, so the bare predicate is
    NULL on them — before the keep_controls fix the state machine
    buffered forever and emitted zero rows), and a topic-template on
    the GROUPED output must route by the first mutation's
    database/table (the grouped row has no such columns itself)."""
    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=8, rollback_prob=0.2, num_files=2)
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "cfg_full": {
                "consumer": "cl",
                "include-event-condition":
                    "database = 'mypipe' AND table IN ('user')",
                "group-mutations-by-tx": True,
                "topic-template": "${database}_${table}_generic",
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ckpt_full"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    out = spark.sql("select * from cfg_full")
    from mypipe_spark.operators.txgroup import committed_mutations

    expected = committed_mutations(spark.read.parquet(src), group_by_tx=True)
    assert out.count() == expected.count() > 0
    assert out.select("topic").distinct().collect()[0][0] == "mypipe_user_generic"


def test_producer_config_without_name_is_a_clear_error(spark, tmp_path):
    config = {
        "consumers": {"cl": {"type": "changelog", "path": str(tmp_path)}},
        "pipes": {"p1": {"consumer": "cl", "producer": {"path": "/out"}}},
    }
    with pytest.raises(KeyError, match="producer config needs a 'name'"):
        build_pipes(config)


def test_kafka_decode_transform_roundtrip(spark):
    """The runner's kafka-consumer decode stage: encoded wire frames
    shaped like Kafka records (value + topic/partition/offset/
    timestamp) must come back as canonical change events — offset
    standing in for seq, broker timestamp for ts — with garbage frames
    diverted, so every downstream transform (mutations_only,
    tx grouping, topic templating) runs unchanged."""
    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import (
        decoded_change_events,
        encode_generic,
        frame_dead_letter_split,
    )

    muts = mutations_only(changelog_df(spark, num_transactions=4))
    framed = (
        encode_generic(muts, in_memory_repo())
        .select("value")
        .withColumn("topic", F.lit("t"))
        .withColumn("partition", F.lit(0))
        .withColumn("offset", F.monotonically_increasing_id())
        .withColumn("timestamp", F.current_timestamp())
    )
    garbage = framed.limit(1).withColumn(
        "value", F.lit(b"\xffgarbage").cast("binary")
    )
    valid, dead = frame_dead_letter_split(
        framed.unionByName(garbage), registry=None
    )
    events = decoded_change_events(valid)
    assert dead.count() == 1  # the garbage frame diverted, query alive
    assert events.count() == muts.count()
    got_ops = {r["op"] for r in events.select("op").distinct().collect()}
    assert got_ops <= {"insert", "update", "delete"}
    # canonical columns are all present and the payload round-tripped
    assert {"seq", "op", "database", "table", "txid", "ts"} <= set(events.columns)
    assert events.filter("database = 'mypipe' AND table = 'user'").count() == events.count()
    assert events.filter("seq IS NULL OR ts IS NULL").count() == 0


def test_kafka_pipe_routes_dead_letters_and_honors_codec(
    spark, tmp_path, monkeypatch
):
    """Config-driven kafka pipe: `codec` reaches the decode cascade
    and `dead-letter-path` preserves diverted frames as parquet (with
    dlq_reason) instead of silently dropping them — the
    skipped-events-preserved contract at the decode layer."""
    import mypipe_spark.runner as runner_mod
    from mypipe_spark.changelog import changelog_df
    from mypipe_spark.operators.decode import mutations_only
    from mypipe_spark.registry import in_memory_repo
    from mypipe_spark.sinks.wire import encode_generic

    muts = mutations_only(changelog_df(spark, num_transactions=3))
    framed = (
        encode_generic(muts, in_memory_repo())
        .select("value")
        .withColumn("topic", F.lit("t"))
        .withColumn("partition", F.lit(0))
        .withColumn("offset", F.monotonically_increasing_id())
        .withColumn("timestamp", F.current_timestamp())
    )
    garbage = framed.limit(1).withColumn(
        "value", F.lit(b"\xffgarbage").cast("binary")
    )
    frames_dir = str(tmp_path / "frames")
    framed.unionByName(garbage).coalesce(1).write.parquet(frames_dir)
    frame_schema = spark.read.parquet(frames_dir).schema

    # no broker in the sandbox: stand in a file stream of kafka-shaped
    # frames for the kafka source, leaving every downstream stage real
    monkeypatch.setitem(
        runner_mod._CONSUMERS,
        "kafka",
        lambda s, conf: s.readStream.schema(frame_schema).parquet(
            conf["path"]
        ),
    )
    dlq_path = str(tmp_path / "dlq")
    out_path = str(tmp_path / "out")
    config = {
        "consumers": {
            "k1": {"type": "kafka", "path": frames_dir, "codec": "json"}
        },
        "pipes": {
            "kp": {
                "consumer": "k1",
                "producer": {"name": "parquet", "path": out_path},
                "checkpoint": str(tmp_path / "ckpt"),
                "dead-letter-path": dlq_path,
            }
        },
    }
    run_from_config(spark, config, block=True)
    out = spark.read.parquet(out_path)
    assert out.count() == muts.count()
    dead = spark.read.parquet(dlq_path)
    assert dead.count() == 1
    assert dead.select("dlq_reason").collect()[0][0] is not None


def test_kafka_dead_letter_path_requires_checkpoint():
    with pytest.raises(ValueError, match="dead-letter-path requires"):
        build_pipes(
            {
                "consumers": {"k1": {"type": "kafka", "brokers": "b", "topics": "t"}},
                "pipes": {
                    "kp": {
                        "consumer": "k1",
                        "dead-letter-path": "/tmp/x",
                    }
                },
            }
        )


def test_latest_state_and_scd2_producers_from_config(spark, tmp_path):
    """The keyed-state materializations as config-driven sinks: a pipe
    with producer latest_state / scd2 folds the merge into a versioned
    KeyedStateDir, equal to the batch recomputes (cdc_latest_state /
    cdc_scd2_history) — the reference's compacted-topic consumer shape
    as one config entry."""
    import os

    from mypipe_spark.plans.catalog import all_queries
    from mypipe_spark.streaming.upsert import KeyedStateDir

    sf_dir = "/root/testdata/sf0.01"
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(src, "events.parquet"))

    @register_consumer("events_file")
    def _events(s, conf):
        return s.readStream.schema(batch.schema).parquet(conf["path"])

    ls_state = str(tmp_path / "ls_state")
    scd2_state = str(tmp_path / "scd2_state")
    config = {
        "consumers": {"ev": {"type": "events_file", "path": src}},
        "pipes": {
            "ls_pipe": {
                "consumer": "ev",
                "mutations-only": False,
                "producer": {"name": "latest_state", "state-path": ls_state},
                "checkpoint": str(tmp_path / "ls_ck"),
            },
            "scd2_pipe": {
                "consumer": "ev",
                "mutations-only": False,
                "producer": {
                    "name": "scd2",
                    "state-path": scd2_state,
                    "dead-letter-path": str(tmp_path / "scd2_dlq"),
                },
                "checkpoint": str(tmp_path / "scd2_ck"),
            },
        },
    }
    run_from_config(spark, config, block=True)

    got_ls = sorted(map(tuple, KeyedStateDir(ls_state).read(spark).collect()))
    want_ls = sorted(
        map(tuple, all_queries()["cdc_latest_state"].fn(spark, sf_dir).collect())
    )
    assert got_ls == want_ls and len(got_ls) > 0

    got_scd2 = sorted(map(tuple, KeyedStateDir(scd2_state).read(spark).collect()))
    want_scd2 = sorted(
        map(tuple, all_queries()["cdc_scd2_history"].fn(spark, sf_dir).collect())
    )
    assert got_scd2 == want_scd2 and len(got_scd2) > 0
    # in-order feed: the guard diverted nothing
    dlq = spark.read.parquet(str(tmp_path / "scd2_dlq"))
    assert dlq.count() == 0


def test_wire_encoding_from_config(spark, tmp_path):
    """The config-driven form of the reference's producer serializers:
    a pipe with "wire" config frames the stream (generic envelope or
    per-table specific records) before the producer — the full
    source → filter → encode → topic → sink pipeline as one dict. The
    producer lands only the Kafka record columns, for both flavors."""
    from pyspark.sql.types import BinaryType, IntegerType, StringType, StructField, StructType

    from mypipe_spark.registry import SchemaRegistry, register_table, save_registry
    from mypipe_spark.sinks.wire import decode_generic, decode_specific

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=8, rollback_prob=0.0, num_files=1)
    n_muts = (
        spark.read.parquet(src)
        .filter(F.col("op").isin("insert", "update", "delete"))
        .count()
    )

    # generic flavor with the avro_ref codec
    out_g = str(tmp_path / "wire_generic")
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "wg": {
                "consumer": "cl",
                "wire": {"flavor": "generic", "codec": "avro_ref"},
                "topic-template": "${database}_${table}_generic",
                "producer": {"name": "parquet", "path": out_g},
                "checkpoint": str(tmp_path / "ck_g"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    frames = spark.read.parquet(out_g)
    assert sorted(frames.columns) == ["topic", "value"]
    assert frames.count() == n_muts
    assert frames.select("topic").distinct().collect()[0][0] == "mypipe_user_generic"
    dec = decode_generic(frames.select("value"), codec="avro_ref")
    assert dec.filter("payload.database = 'mypipe'").count() == n_muts

    # specific flavor against a config-pointed registry
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("username", StringType()),
            StructField("password", StringType()),
            StructField("login_count", IntegerType()),
            StructField("bio", BinaryType()),
        ]
    )
    reg = SchemaRegistry()
    register_table(reg, "mypipe", "user", schema)
    reg_path = str(tmp_path / "registry.json")
    save_registry(reg, reg_path)
    out_s = str(tmp_path / "wire_specific")
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "ws": {
                "consumer": "cl",
                "wire": {
                    "flavor": "specific",
                    "database": "mypipe",
                    "table": "user",
                    "schema-registry": {"path": reg_path},
                },
                "topic-template": "${database}_${table}_specific",
                "producer": {"name": "parquet", "path": out_s},
                "checkpoint": str(tmp_path / "ck_s"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    sframes = spark.read.parquet(out_s)
    assert sorted(sframes.columns) == ["topic", "value"]
    assert sframes.count() == n_muts
    singles = decode_specific(sframes.select("value"), schema, which="single")
    assert singles.filter("record.username IS NOT NULL").count() == singles.count()

    # grouped + wire is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cannot follow group-mutations-by-tx"):
        build_pipes(
            {
                "consumers": {"cl": {"type": "changelog", "path": src}},
                "pipes": {
                    "bad": {
                        "consumer": "cl",
                        "group-mutations-by-tx": True,
                        "wire": {"flavor": "generic"},
                    }
                },
            }
        )


def test_wire_dead_letters_preserved_from_config(spark, tmp_path):
    """The wire-encode stage must preserve what the serializer diverts
    (control rows piped in unfiltered, rows the codec cannot
    serialize) at the configured dead-letter path — never drop them
    silently."""
    from mypipe_spark.sinks.wire import decode_generic

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=5, rollback_prob=0.0, num_files=1)
    all_rows = spark.read.parquet(src)
    n_muts = all_rows.filter(F.col("op").isin("insert", "update", "delete")).count()
    n_controls = all_rows.count() - n_muts

    out = str(tmp_path / "wire_out")
    dlq = str(tmp_path / "wire_dlq")
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "wp": {
                "consumer": "cl",
                "mutations-only": False,  # controls reach the encoder
                "wire": {
                    "flavor": "generic",
                    "codec": "avro_ref",
                    "dead-letter-path": dlq,
                },
                "producer": {"name": "parquet", "path": out},
                "checkpoint": str(tmp_path / "ck_w"),
            }
        },
    }
    run_from_config(spark, config, block=True)
    frames = spark.read.parquet(out)
    assert frames.count() == n_muts
    assert frames.filter(F.col("value").isNull()).count() == 0
    dec = decode_generic(frames.select("value"), codec="avro_ref")
    assert dec.filter("payload.database = 'mypipe'").count() == n_muts
    dead = spark.read.parquet(dlq)
    assert dead.count() == n_controls > 0
    # the sibling keeps the full diverted rows
    assert {"op", "database", "table", "txid", "dlq_reason"} <= set(dead.columns)
    assert set(r["dlq_reason"] for r in dead.collect()) == {"not_a_mutation"}


def test_grouped_tx_rejected_on_commitless_consumers(spark, tmp_path):
    """group-mutations-by-tx on a kafka or debezium consumer is a
    silent dead end (their decoded streams carry no BEGIN/COMMIT
    markers, so the commit-gated state machine buffers forever and
    emits nothing) — build_pipes must refuse at build, like the
    wire+grouped rejection (round-8 review)."""
    import pytest

    from mypipe_spark.runner import build_pipes

    for cconf in (
        {"type": "kafka", "brokers": "b", "topics": "t"},
        {"type": "debezium", "path": str(tmp_path)},
    ):
        config = {
            "consumers": {"c": cconf},
            "pipes": {
                "p": {"consumer": "c", "group-mutations-by-tx": True,
                       "producer": {"name": "memory"}}
            },
        }
        with pytest.raises(ValueError, match="commit-marker"):
            build_pipes(config)


def test_include_condition_keeps_controls_when_mutations_only_false(spark, tmp_path):
    """A pipe that explicitly asked to keep control rows
    (mutations-only=false) must not lose them to a table-scoped
    include condition (controls carry table=NULL, so the condition
    evaluates NULL on them) — round-8 review."""
    from mypipe_spark.changelog import write_changelog
    from mypipe_spark.runner import build_pipes
    from mypipe_spark.sources.stream import changelog_batch
    from mypipe_spark.streaming.pipe import run_pipes

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=5, num_files=1)
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "ctl_keep": {
                "consumer": "cl",
                "mutations-only": False,
                "include-event-condition": "table = 'user'",
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ck"),
            }
        },
    }
    (pipe,) = build_pipes(config)
    q = run_pipes(spark, [pipe])[0]
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select * from ctl_keep")
    n_controls = out.filter("op in ('begin','commit','rollback')").count()
    want = changelog_batch(spark, src).filter(
        "op in ('begin','commit','rollback')"
    ).count()
    assert n_controls == want > 0


def test_run_from_config_nonblock_stops_started_on_later_failure(spark, tmp_path):
    """round-11 review: the non-block path re-implemented the start
    loop without run_pipes' all-or-nothing cleanup — a config whose
    SECOND pipe fails to start (unknown producer, resolved only at
    start) orphaned the first pipe's running query and checkpoint,
    and a retry collided with the orphan's query name."""
    import pytest

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=3, num_files=1)
    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "ok_pipe": {
                "consumer": "cl",
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ck1"),
            },
            "bad_pipe": {
                "consumer": "cl",
                "producer": {"name": "no_such_producer"},
                "checkpoint": str(tmp_path / "ck2"),
            },
        },
    }
    before = {q.id for q in spark.streams.active}
    with pytest.raises(Exception):
        run_from_config(spark, config, block=False)
    leaked = {q.id for q in spark.streams.active} - before
    assert not leaked, f"orphaned queries after partial start: {leaked}"


def test_specific_wire_pipe_rejects_non_structtype_registration(spark, tmp_path):
    """round-11 review: a subject holding a non-StructType schema text
    (another producer's Avro record) made build_pipes die with a bare
    fromJson KeyError; the specific wire sink needs the column layout
    and must fail with a guided error instead."""
    import json as _json

    import pytest

    from mypipe_spark.registry import SchemaRegistry, save_registry

    src = str(tmp_path / "cl")
    write_changelog(spark, src, num_transactions=2, num_files=1)
    reg = SchemaRegistry()
    avro_text = _json.dumps(
        {"type": "record", "name": "user", "fields": [{"name": "id", "type": "int"}]}
    )
    for mt in ("insert", "update", "delete"):
        reg.register(f"mypipe_user_{mt}", avro_text)
    reg_path = str(tmp_path / "reg")
    save_registry(reg, reg_path)

    config = {
        "consumers": {"cl": {"type": "changelog", "path": src}},
        "pipes": {
            "wire_pipe": {
                "consumer": "cl",
                "wire": {
                    "flavor": "specific",
                    "database": "mypipe",
                    "table": "user",
                    "schema-registry": {"path": reg_path},
                },
                "producer": {"name": "memory"},
                "checkpoint": str(tmp_path / "ck"),
            }
        },
    }
    with pytest.raises(ValueError, match="StructType"):
        build_pipes(config)
