"""tools/fork_census.py: ProcessStart events from `jfr print` grouped by
command and by the first Spark frame on the stack."""

from __future__ import annotations

from tools.fork_census import main, parse

_JFR_PRINT = """\
jdk.ProcessStart {
  startTime = 12:04:15.101
  pid = 101
  directory = N/A
  command = "readlink /ckpt/offsets/.0.tmp"
  eventThread = "stream execution thread for [id = 1]" (javaThreadId = 90)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.hadoop.fs.FileUtil.readLink(File) line: 211
    org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile(Path, Path, boolean) line: 410
    org.apache.spark.sql.execution.streaming.HDFSMetadataLog.write(Path, Function1) line: 60
  ]
}

jdk.ProcessStart {
  startTime = 12:04:15.120
  pid = 102
  directory = N/A
  command = "chmod 644 /sink/part-0.parquet"
  eventThread = "Executor task launch worker" (javaThreadId = 91)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
    org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.<init>(String, TaskAttemptContext) line: 37
  ]
}

jdk.ProcessStart {
  startTime = 12:04:15.130
  pid = 103
  directory = N/A
  command = "readlink /tmp/x"
  eventThread = "main" (javaThreadId = 1)
  stackTrace = [
    java.lang.ProcessBuilder.start() line: 1073
  ]
}
"""

_RENAME = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager.renameTempFile"
)


def test_parse_names_command_and_first_spark_frame():
    assert parse(_JFR_PRINT) == [
        ("readlink", _RENAME),
        ("chmod", "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.<init>"),
        ("readlink", "-"),
    ]


def test_report_counts_per_batch(tmp_path, capsys):
    path = tmp_path / "forks.txt"
    path.write_text(_JFR_PRINT)
    assert main([str(path), "--batches", "2"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].split() == ["3", "1.5/batch", "total", "forks"]
    lines = [line.split() for line in out]
    assert ["2", "1.0/batch", "readlink"] in lines
    assert ["1", "0.5/batch", "readlink", _RENAME] in lines
    assert ["1", "0.5/batch", "readlink", "-"] in lines
