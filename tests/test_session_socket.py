"""Python workers on a Unix domain socket.

``get_spark`` runs a local session's Python workers over Unix domain
sockets in a short private directory. A deep TMPDIR and java.io.tmpdir
(where pyspark would put the sockets by default, past AF_UNIX's 108-byte
path limit) must still start a working session, and the directory must
be gone once the driver has stopped and exited."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import os, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from rsgislib_spark.session import get_spark

java_opts = "-Djava.io.tmpdir=" + os.environ["TMPDIR"]
spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.extraJavaOptions": java_opts})
assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print("SOCKET_DIR", sock_dir, oct(os.stat(sock_dir).st_mode & 0o777), flush=True)

def same(it):
    for b in it:
        yield b

df = spark.createDataFrame(pd.DataFrame({"a": range(40)}))
assert sorted(df.mapInArrow(same, df.schema).toPandas()["a"]) == list(range(40))
spark.stop()
"""


def test_unix_socket_session_with_deep_tmpdir(tmp_path):
    deep = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    deep.mkdir()
    assert len(str(deep)) >= 100
    env = {**os.environ, "TMPDIR": str(deep), "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", DRIVER, ROOT], capture_output=True, text=True, cwd=str(tmp_path),
        env=env, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("SOCKET_DIR"))
    _, sock_dir, mode = line.split()
    # pyspark names a socket <dir>/.<uuid4>.sock: 43 bytes past the directory
    assert len(sock_dir) + 43 < 108, sock_dir
    assert mode == "0o700", mode
    assert not os.path.exists(sock_dir), sock_dir
