"""The whole CLI surface in-process, with no Spark session: for every
subcommand, operand count, path and number errors exit 2 with argparse's
message, a valid argv reaches the command function with its parsed
operands and flags, and `-h` exits 0. The subprocess tests in
test_cli.py pin the `python -m` entry point itself."""

from __future__ import annotations

import inspect

import pytest

from cassandra_sstable_to_protocolbuf_spark import __main__ as M
from cassandra_sstable_to_protocolbuf_spark import session

# subcommand -> (operand kinds, flags); a trailing "?" marks an optional
# operand
SURFACE = {
    "convert": (("path", "str"), ("--continue-on-error",)),
    "to-parquet": (("path", "str"), ("--by-shard",)),
    "compact": (("path", "str"), ()),
    "merge": (("path", "dir"), ()),
    "delete-keys": (("path", "dir"), ()),
    "init-versioned": (("path", "str"), ("--force",)),
    "merge-versioned": (("path", "dir"), ("--mor",)),
    "merge-into": (("path", "path", "dir"), ()),
    "compact-versioned": (("dir",), ()),
    "reshard-versioned": (("n>=1", "dir"), ()),
    "compact-respec": (("dir",), ()),
    "restore": (("n>=0", "dir"), ()),
    "vacuum": (("n>=1", "dir"), ("--no-grace",)),
    "table-history": (("dir",), ()),
    "sstable-info": (("path",), ()),
    "optimize-plan": (("dir",), ()),
    "optimize": (("dir",), ("--until-stable",)),
    "manifest": (("action", "dir"), ()),
    "maintenance-vacuum": (("dir", "age?"), ()),
    "verify-digest": (("path",), ()),
    "slice": (("path", "str", "str", "str"), ()),
    "build-corpus": (("dir", "str"), ()),
    "repair-diff": (("path", "path"), ()),
    "analyze-events": (("dir", "str"), ()),
    "explain": (("str", "dir?"), ()),
    "check": (("str", "dir"), ()),
    "list-queries": ((), ()),
}
ALL_FLAGS = sorted({f for _kinds, flags in SURFACE.values() for f in flags})

NUMBER_ERRORS = {
    "n>=1": (("0", "-1", "x", "1.5"), "expected an integer >= 1"),
    "n>=0": (("-1", "x", "1.5"), "expected an integer >= 0"),
    "age": (("abc", "-5", "nan", "inf"),
            "expected a finite number of seconds >= 0"),
}


def _exit_code(argv, capsys) -> tuple[int, str]:
    with pytest.raises(SystemExit) as e:
        M.main(argv)
    return e.value.code, capsys.readouterr().err


def test_surface_lists_every_subcommand():
    assert sorted(SURFACE) == sorted(M.COMMANDS)


@pytest.mark.parametrize("name", sorted(SURFACE))
def test_subcommand_surface(name, tmp_path, monkeypatch, capsys):
    kinds, flags = SURFACE[name]
    a_file = tmp_path / "f"
    a_file.write_text("")
    missing = str(tmp_path / "missing")
    valid = {"path": (str(a_file), str(a_file)),
             "dir": (str(tmp_path), str(tmp_path)),
             "str": ("x", "x"), "action": ("status", "status"),
             "n>=1": ("3", 3), "n>=0": ("0", 0), "age": ("1.5", 1.5)}
    errors = {"path": ((missing,), "does not exist"),
              "dir": ((missing, str(a_file)), "does not exist"),
              "action": (("frob",), "invalid choice"), **NUMBER_ERRORS}
    argv = [valid[k.rstrip("?")][0] for k in kinds]
    parsed = [valid[k.rstrip("?")][1] for k in kinds]
    n_required = sum(not k.endswith("?") for k in kinds)

    with pytest.raises(SystemExit) as e:
        M.main([name, "-h"])
    assert e.value.code == 0
    assert "usage:" in capsys.readouterr().out

    fn = M.COMMANDS[name][0]
    calls = []

    def record(*args, **kwargs):
        calls.append(inspect.signature(fn).bind(*args, **kwargs).arguments)
        return 0

    monkeypatch.setitem(M.COMMANDS, name, (record, *M.COMMANDS[name][1:]))

    # valid argv: operands parsed, flags set, an omitted optional operand
    # left to the function's default (never type-checked)
    assert M.main([name, *flags, *argv]) == 0
    assert list(calls[-1].values()) == parsed + [True] * len(flags)
    assert M.main([name, *argv[:n_required]]) == 0
    assert list(calls[-1].values()) == (parsed[:n_required]
                                        + [False] * len(flags))
    n_calls = len(calls)

    if n_required:
        code, err = _exit_code([name, *argv[:n_required - 1]], capsys)
        assert code == 2 and "the following arguments are required" in err
    code, err = _exit_code([name, *argv, "extra"], capsys)
    assert code == 2 and "unrecognized arguments: extra" in err
    for flag in ALL_FLAGS:
        if flag not in flags:
            code, err = _exit_code([name, flag, *argv], capsys)
            assert code == 2 and f"unrecognized arguments: {flag}" in err
    for i, kind in enumerate(kinds):
        bad_values, text = errors.get(kind.rstrip("?"), ((), ""))
        for bad in bad_values:
            code, err = _exit_code(
                [name, *argv[:i], bad, *argv[i + 1:]], capsys)
            assert code == 2 and err.startswith("usage:") and text in err
    assert len(calls) == n_calls  # no rejected argv reached the command


def test_top_level_usage(capsys):
    with pytest.raises(SystemExit) as e:
        M.main(["-h"])
    assert e.value.code == 0 and "list-queries" in capsys.readouterr().out
    code, err = _exit_code([], capsys)
    assert code == 2 and "usage:" in err
    code, err = _exit_code(["no-such-command"], capsys)
    assert code == 2 and "invalid choice" in err


@pytest.mark.parametrize("argv", [
    ["list-queries"],
    ["explain", "no_such_query"],
    ["check", "no_such_query", "{d}"],
    ["merge-into", "{f}", "{f}", "{d}"],
], ids=lambda argv: argv[0])
def test_stray_flag_is_rejected(argv, tmp_path, monkeypatch, capsys):
    """A flag another subcommand owns is a usage error, not silently
    dropped, and no command runs."""
    a_file = tmp_path / "f"
    a_file.write_text("")

    def no_spark(*_args, **_kwargs):
        raise AssertionError("a rejected argv must not start Spark")

    monkeypatch.setattr(session, "get_spark", no_spark)
    argv = [a.format(d=tmp_path, f=a_file) for a in argv]
    code, err = _exit_code([*argv, "--force"], capsys)
    assert code == 2 and "unrecognized arguments: --force" in err


@pytest.mark.parametrize("min_age_s", ["abc", "-5", "nan", "inf"])
def test_maintenance_vacuum_rejects_bad_min_age(min_age_s, tmp_path, capsys):
    code, err = _exit_code(
        ["maintenance-vacuum", str(tmp_path), min_age_s], capsys)
    assert code == 2 and f"got {min_age_s!r}" in err


def test_maintenance_vacuum_min_age_default_and_zero(tmp_path, capsys):
    assert M.main(["maintenance-vacuum", str(tmp_path), "0"]) == 0
    assert "(min age 0s)" in capsys.readouterr().out
    assert M.main(["maintenance-vacuum", str(tmp_path)]) == 0
    assert "(min age 3600s)" in capsys.readouterr().out
