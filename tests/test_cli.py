"""CLI behaviour (lib-pl/cli.pl parity), URL-relative include
resolution and the structural draft-04 fallback, on inline XSD — none
of these need the reference fixture corpus (test_xsd_cli.py covers the
fixture-driven parity)."""

import io
import json
import sys
from contextlib import redirect_stderr, redirect_stdout

import pytest

from xsd2json_spark.cli import main as cli_main
from xsd2json_spark.spec.metaschema import _structural_errors, validate_draft04
from xsd2json_spark.spec.xsd_compiler import XsdCompiler, xsd_to_json_schema

POINT_XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:complexType name="pointType">
    <xs:sequence>
      <xs:element name="x" type="xs:integer"/>
      <xs:element name="y" type="xs:integer" minOccurs="0"/>
    </xs:sequence>
  </xs:complexType>
  <xs:element name="point" type="pointType"/>
</xs:schema>
"""


def _run_cli(argv, stdin_text=None):
    out, err = io.StringIO(), io.StringIO()
    old_stdin = sys.stdin
    if stdin_text is not None:
        sys.stdin = io.StringIO(stdin_text)
    try:
        with redirect_stdout(out), redirect_stderr(err):
            rc = cli_main(argv)
    finally:
        sys.stdin = old_stdin
    return rc, out.getvalue(), err.getvalue()


@pytest.fixture()
def point_xsd(tmp_path):
    path = tmp_path / "point.xsd"
    path.write_text(POINT_XSD)
    return str(path)


def test_cli_version_and_usage():
    rc, out, _ = _run_cli(["--version"])
    assert rc == 0 and "xsd2json" in out
    rc, out, _ = _run_cli([])  # no args -> usage, exit 0 like the reference
    assert rc == 0 and "usage" in out.lower()


def test_cli_compiles_file_stdin_and_single_line(point_xsd):
    want = xsd_to_json_schema(POINT_XSD)
    rc, out, _ = _run_cli([point_xsd])
    assert rc == 0 and json.loads(out) == want
    rc, out, _ = _run_cli(["-"], stdin_text=POINT_XSD)
    assert rc == 0 and json.loads(out) == want
    rc, out, _ = _run_cli(["-i", "0", point_xsd])
    assert rc == 0 and out.count("\n") == 1 and json.loads(out) == want


def test_cli_trace_dumps_definitions(point_xsd):
    rc, _, err = _run_cli(["-t", point_xsd])
    assert rc == 0 and "# trace" in err and "pointType" in err


def test_cli_error_exit_code():
    rc, _, err = _run_cli(["/nonexistent/nope.xsd"])
    assert rc == 1 and "error" in err
    rc, _, err = _run_cli(["-"], stdin_text="<xs:schema")  # malformed XML
    assert rc == 1 and "error" in err


def test_url_include_resolution_unit():
    c = XsdCompiler(
        "<xs:schema xmlns:xs='http://www.w3.org/2001/XMLSchema'/>", base_dir="http://h/x/"
    )
    assert c._resolve_location("a.xsd") == "http://h/x/a.xsd"
    assert c._resolve_location("http://other/b.xsd") == "http://other/b.xsd"


def test_compiled_inline_output_is_valid_draft04():
    assert validate_draft04(xsd_to_json_schema(POINT_XSD)) == []


def test_structural_fallback_catches_bad_schema():
    bad = {"type": "strng", "required": [], "allOf": "nope", "minLength": -1}
    errs = _structural_errors(bad, "$")
    assert len(errs) >= 4
    assert _structural_errors({"type": "string", "minLength": 3}, "$") == []
