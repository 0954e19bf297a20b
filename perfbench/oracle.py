"""Runs the repository's DuckDB compare, `tools/check_oracle.py`,
unchanged, and ends the process without interpreter teardown.

DuckDB 1.0 can abort at interpreter exit ("terminate called without an
active exception", SIGABRT) after every comparison has printed its
line, which would turn a clean compare into a failed one. This wrapper
executes the script in its own namespace, closes the script's DuckDB
connection, flushes the output and leaves with `os._exit` and the
script's own exit code. A crash during the compares still ends the
process with a signal, which `run.py` counts as a failure.

Usage: python3 perfbench/oracle.py <check_oracle.py> <sfDir> <outDir>
"""
import os
import sys
import traceback


def main():
    script = sys.argv[1]
    sys.argv = sys.argv[1:]
    ns = {"__name__": "__main__", "__file__": script}
    code = 0
    try:
        with open(script) as f:
            exec(compile(f.read(), script, "exec"), ns)
    except SystemExit as e:
        code = e.code if isinstance(e.code, int) else (0 if e.code is None else 1)
    except BaseException:
        traceback.print_exc()
        code = 1
    finally:
        if ns.get("con") is not None:
            ns["con"].close()
        sys.stdout.flush()
        sys.stderr.flush()
    os._exit(code)


if __name__ == "__main__":
    main()
