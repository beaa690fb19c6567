"""The verification harness: PySpark-native re-expression of the reference's
own operators (SURVEY.md section 2-A, A1-A12).

- ``manifest``      : JSON manifest + task model (FakeEmrManifest.java:50-86).
- ``splitter``      : the one HQL lexer: statement splitting
                      (CliDriver.processFile semantics), literal/comment
                      blanking and leading-comment stripping.
- ``substitution``  : ${VAR} / ${hivevar:} / ${hiveconf:} / ${env:} injection
                      (ManifestRunner.java:234).
- ``setcmd``        : SET interception incl. the EMR conf-name shim
                      (ManifestRunner.java:136-153).
- ``executor``      : sequential fail-fast script execution with dry-run
                      (validate-only) mode replacing the javassist task
                      blocking (ManifestRunner.java:85-134), plus the output
                      protocol (":235 Processing / :127 Skipped! / :262 Total time").
- ``verification``  : the public API (verification.rb:12-41).
"""

from bee_proof_spark.runner.executor import ScriptRunner, StatementError
from bee_proof_spark.runner.manifest import Manifest, Task
from bee_proof_spark.runner.verification import Verification

__all__ = ["Manifest", "ScriptRunner", "StatementError", "Task", "Verification"]
