"""Landing-zone file lifecycle: Unprocessed → Processed / Failed.

The reference encodes a 3-state machine in the object path and moves
blobs between states by rename (main.py:250-264; transitions at
main.py:293-294, 362-363, 428-429, 444-445, 493-494, 509-510). Here
the same machine runs over the Hadoop FileSystem API, so the identical
code drives local paths in tests and hdfs:///s3a:///gs:// at scale —
rename is a metadata operation on real object stores' Hadoop
connectors, never a data copy through the driver.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

UNPROCESSED = "Unprocessed"
PROCESSED = "Processed"
FAILED = "Failed"


class LandingZone:
    """A landing root containing Unprocessed/, Processed/, Failed/."""

    def __init__(self, spark: SparkSession, root: str):
        self.root = root.rstrip("/")
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        self._conf = jsc.hadoopConfiguration()
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.root).getFileSystem(self._conf)

    def _dir(self, state: str) -> str:
        return f"{self.root}/{state}"

    def ensure_dirs(self) -> None:
        for state in (UNPROCESSED, PROCESSED, FAILED):
            self._fs.mkdirs(self._Path(self._dir(state)))

    def put(self, filename: str, data: bytes) -> str:
        """Land raw bytes into Unprocessed/ (reference L1,
        upload_attachment_to_gcs main.py:222-247): the raw copy is kept
        regardless of later parse outcome."""
        dest = f"{self._dir(UNPROCESSED)}/{filename}"
        out = self._fs.create(self._Path(dest), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return dest

    def list_unprocessed(self) -> list[str]:
        d = self._Path(self._dir(UNPROCESSED))
        if not self._fs.exists(d):
            return []
        it = self._fs.listStatus(d)
        return sorted(
            str(s.getPath().toString()) for s in it if s.isFile()
        )

    def _move(self, path: str, to_state: str) -> str:
        """In-place state transition by rename (reference move_blob,
        main.py:250-264)."""
        name = path.rsplit("/", 1)[-1]
        dest = f"{self._dir(to_state)}/{name}"
        dest_path = self._Path(dest)
        self._fs.mkdirs(dest_path.getParent())
        if self._fs.exists(dest_path):
            self._fs.delete(dest_path, False)
        ok = self._fs.rename(self._Path(path), dest_path)
        if not ok:
            raise IOError(f"rename failed: {path} -> {dest}")
        return dest

    def mark_processed(self, path: str) -> str:
        return self._move(path, PROCESSED)

    def mark_failed(self, path: str) -> str:
        return self._move(path, FAILED)
