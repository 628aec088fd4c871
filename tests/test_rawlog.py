"""Raw HDFS-style log source parity with the reference's extraction
regexes (prepare.py P1, hdfs.py P3, extract_timedeltas.py P4)."""

LOG_LINES = """\
081109 203615 148 INFO dfs.DataNode$PacketResponder: PacketResponder 1 for block blk_38865049064139660 terminating
081109 203807 222 INFO dfs.DataNode$PacketResponder: PacketResponder 0 for block blk_-6952295868487656571 terminating
081109 204005 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.251.73.220:50010 is added to blk_38865049064139660 size 67108864
081109 204015 308 INFO dfs.DataNode$PacketResponder: PacketResponder 2 for block blk_38865049064139660 terminating
"""


def test_hdfs_log_parse(spark, tmp_path):
    from ml4logs_spark.sources.rawlog import read_hdfs_log

    p = tmp_path / "hdfs.log"
    p.write_text(LOG_LINES)
    out = read_hdfs_log(spark, str(p)).toPandas().sort_values(["conv_id", "turn_idx"])

    # block-id extraction incl. negative ids (hdfs.py:128-129)
    assert set(out.conv_id) == {"blk_38865049064139660", "blk_-6952295868487656571"}
    big = out[out.conv_id == "blk_38865049064139660"]
    assert big.turn_idx.tolist() == [0, 1, 2]  # in-file order preserved
    # timestamp prefix parse (extract_timedeltas.py:54-63)
    assert big.ts.notna().all()
    assert str(big.ts.iloc[0]) == "2008-11-09 20:36:15"
    # content extraction strips the "<component>: " prefix (ibm_drain P2)
    assert big.text.iloc[0] == "PacketResponder 1 for block blk_38865049064139660 terminating"
    assert big.tool.iloc[0] == "dfs.DataNode$PacketResponder"


def test_labeled_split(spark, tmp_path):
    from ml4logs_spark.sources.rawlog import read_hdfs_log

    p = tmp_path / "labeled.log"
    p.write_text(
        "- 081109 203615 148 INFO dfs.DataNode: ok blk_1 done\n"
        "Anomaly 081109 203616 148 WARN dfs.DataNode: bad blk_1 event\n"
    )
    out = read_hdfs_log(spark, str(p), labeled=True).toPandas().sort_values("turn_idx")
    assert out.role.tolist() == ["normal", "anomaly"]


def test_multifile_glob_stable_order(spark, tmp_path):
    """turn_idx must be a physical property of the files — identical
    across a multi-file glob, recompute after repartition, and both
    order modes (the round-1 monotonically_increasing_id key was not)."""
    # one block spanning two rotated files; rotation order = name order
    (tmp_path / "a.log").write_text(
        "081109 203615 148 INFO dfs.DataNode: first blk_7 line\n"
        "081109 203616 148 INFO dfs.DataNode: second blk_7 line\n"
    )
    (tmp_path / "b.log").write_text(
        "081109 203617 148 INFO dfs.DataNode: third blk_7 line\n"
    )
    from ml4logs_spark.sources.rawlog import read_hdfs_log

    glob = str(tmp_path / "*.log")
    expected = [
        (0, "first blk_7 line"),
        (1, "second blk_7 line"),
        (2, "third blk_7 line"),
    ]
    for order in ("wholetext", "offset"):
        t = read_hdfs_log(spark, glob, order=order)
        got = (
            t.toPandas().sort_values("turn_idx")[["turn_idx", "text"]]
            .apply(tuple, axis=1).tolist()
        )
        assert got == expected, order
        # recompute after an adversarial repartition: same assignment
        got2 = (
            read_hdfs_log(spark, glob, order=order)
            .repartition(7)
            .toPandas().sort_values("turn_idx")[["turn_idx", "text"]]
            .apply(tuple, axis=1).tolist()
        )
        assert got2 == expected, order


def test_offset_mode_matches_wholetext(spark, tmp_path):
    p = tmp_path / "hdfs.log"
    p.write_text(LOG_LINES)
    from ml4logs_spark.sources.rawlog import read_hdfs_log

    a = read_hdfs_log(spark, str(p), order="wholetext").toPandas()
    b = read_hdfs_log(spark, str(p), order="offset").toPandas()
    key = ["conv_id", "turn_idx", "text"]
    assert (
        a[key].sort_values(key).values.tolist()
        == b[key].sort_values(key).values.tolist()
    )


def test_rawlog_feeds_pipeline(spark, tmp_path):
    """The raw-log source composes with the same downstream operators."""
    from ml4logs_spark.operators import parse, windows
    from ml4logs_spark.sources.rawlog import read_hdfs_log

    p = tmp_path / "hdfs.log"
    p.write_text(LOG_LINES)
    t = read_hdfs_log(spark, str(p))
    dim = parse.template_dim(t).toPandas()
    assert "PacketResponder <*> for block blk_<*> terminating" in set(dim.template)
    td = windows.with_timedeltas(t).toPandas()
    assert (td[td.turn_idx == 0].td == 0.0).all()
