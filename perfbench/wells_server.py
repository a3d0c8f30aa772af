"""Serve an ``export_json`` directory with the engine's HTTP tier
(``serving.serve_wells_http``) until standard input closes. Prints the
bound port on the first line of standard output.

    python3 perfbench/wells_server.py <export_dir>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oil_wells_data_wrangling_spark.serving import serve_wells_http  # noqa: E402


def main() -> None:
    server = serve_wells_http(sys.argv[1])
    print(server.server_port, flush=True)
    try:
        sys.stdin.read()
    finally:
        server.shutdown()
        server.server_close()


if __name__ == "__main__":
    main()
