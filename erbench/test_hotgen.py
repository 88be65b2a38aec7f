"""Test of the dedup_hot input generator: builds the bench and runs
graft.erbench.HotGenCheck, which checks from the generated rows alone that
each seed's corpus has a text shared by more than 1600 conversations, one
shared by 201 to 1600, and at least 100k true duplicate pairs, and that a
seed always gives the same corpus.

    python3 erbench/test_hotgen.py [seed ...]
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main(seeds):
    try:
        classes = build.build()
        cmd, env = run.jvm_command(build.java(), classes, build.spark_jars(),
                                   os.path.join(build.BUILD, "work-hotgen-check"),
                                   "graft.erbench.HotGenCheck")
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    res = subprocess.run(cmd + [str(s) for s in seeds], cwd=build.ROOT, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300)
    print(res.stdout, end="")
    print("PASS" if res.returncode == 0 else "FAIL")
    return res.returncode


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or [1, 2, 3]))
