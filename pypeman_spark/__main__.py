"""``python -m pypeman_spark`` — CLI entry points (reference
``commands.py:229-400``: start / graph / startproject / shell /
printsettings / test).

The reference CLI loads ``project.py`` from the working directory at
import time; here the convention is explicit: the project module
exposes ``build_project(spark) -> ChannelRegistry``. ``start`` runs it,
serves the REST + websocket admin endpoints, and starts every
registered streaming channel. ``start --daemon`` detaches via the
classic double-fork with a ``pypeman.pid`` pidfile and ``stop`` sends
SIGTERM through it (reference ``commands.py:260-294`` DaemonLite
semantics) — useful for single-node deployments; on a cluster the
scheduler supervises the driver instead.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

__all__ = ["main", "load_project", "graph_lines"]


def load_project(project_dir: str = "."):
    """Import ``project.py`` (reference ``commands.py:131-156``
    load_project) and build the registry."""
    sys.path.insert(0, os.path.abspath(project_dir))
    try:
        project = importlib.import_module("project")
    finally:
        sys.path.pop(0)
    if not hasattr(project, "build_project"):
        raise SystemExit(
            "project.py must define build_project(spark) -> ChannelRegistry"
        )
    return project


def _load_settings(project_dir: str = "."):
    sys.path.insert(0, os.path.abspath(project_dir))
    try:
        return importlib.import_module("settings")
    except ImportError:
        return None
    finally:
        sys.path.pop(0)


def graph_lines(registry, dot: bool = False):
    """Channel graph (reference ``graph.py:81-98`` mk_graph /
    ``channels.py:897-919`` ascii form)."""
    if dot:
        yield "digraph channelgraph{"
        for name in registry.names():
            yield '{node[shape=box]; "%s"; }' % name
        for name in registry.names():
            prev = name
            for stage, _fn in registry.get(name).pipeline.stages:
                yield f'"{prev}" -> "{stage}";'
                prev = stage
        yield "}"
    else:
        for name in registry.names():
            yield f"{name} ({registry.channel_status(name)})"
            for stage, _fn in registry.get(name).pipeline.stages:
                yield f"|-{stage}"
            yield ""


def _pidfile(project_dir: str) -> str:
    return os.path.join(os.path.abspath(project_dir), "pypeman.pid")


def _read_pid(pidfile: str) -> int | None:
    try:
        return int(open(pidfile).read().strip())
    except (OSError, ValueError):
        return None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except (ProcessLookupError, PermissionError):
        return False


def _daemonize(pidfile: str, logfile: str) -> bool | None:
    """Double-fork detach (reference ``commands.py:208-226`` mk_daemon /
    DaemonLite). Returns True in the daemon process, False in the
    parent, None if an instance is already running (error)."""
    existing = _read_pid(pidfile)
    if existing is not None and _pid_alive(existing):
        print(f"already running (pid {existing})", file=sys.stderr)
        return None
    if os.fork() > 0:
        return False
    os.setsid()
    if os.fork() > 0:
        os._exit(0)
    sys.stdout.flush()
    sys.stderr.flush()
    devnull = os.open(os.devnull, os.O_RDONLY)
    logfd = os.open(logfile, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(devnull, 0)
    os.dup2(logfd, 1)
    os.dup2(logfd, 2)
    with open(pidfile, "w") as fh:
        fh.write(str(os.getpid()))
    import atexit

    atexit.register(
        lambda: os.path.exists(pidfile) and os.remove(pidfile)
    )
    return True


RELOAD_EXIT = 3  # child's "restart me" code (reference reloader.py:62,91)


def _reload_parent_loop(raw_argv: list[str], interval: float = 1.0) -> int:
    """Supervisor half of dev auto-reload (reference
    ``helpers/reloader.py:46-70``): respawn the child while the lockfile
    exists, heartbeat the lockfile so the child can detect a dead
    parent, restart on exit code 3, propagate any other exit code."""
    import subprocess
    import tempfile

    fd, lockfile = tempfile.mkstemp(prefix="pypeman.", suffix=".lock")
    os.close(fd)
    child = None
    try:
        while os.path.exists(lockfile):
            env = os.environ.copy()
            env["PYPEMAN_RELOAD_CHILD"] = "1"
            env["PYPEMAN_RELOAD_LOCKFILE"] = lockfile
            child = subprocess.Popen(
                [sys.executable, "-m", "pypeman_spark"] + raw_argv, env=env
            )
            while child.poll() is None:
                os.utime(lockfile, None)  # I am alive!
                time.sleep(interval)
            if child.returncode != RELOAD_EXIT:
                return child.returncode
            print("reloading...")
    except KeyboardInterrupt:
        return 0
    finally:
        if child is not None and child.poll() is None:
            child.terminate()
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                child.kill()
        if os.path.exists(lockfile):
            os.unlink(lockfile)
    return 0


def _watch_loaded_files(stop_evt, reload_flag, interval: float = 1.0):
    """Watcher half (reference ``helpers/reloader.py:10-43``): snapshot
    mtimes of every loaded module file; on any change (or a stale/gone
    parent lockfile) request shutdown. Runs as a daemon thread — the
    main loop owns the actual teardown."""
    lockfile = os.environ.get("PYPEMAN_RELOAD_LOCKFILE")
    files = {}
    for module in list(sys.modules.values()):
        path = getattr(module, "__file__", "") or ""
        if path.endswith((".pyc", ".pyo")):
            path = path[:-1]
        if path and os.path.exists(path):
            files[path] = os.stat(path).st_mtime
    while not stop_evt.is_set():
        time.sleep(interval)
        if lockfile and (
            not os.path.exists(lockfile)
            or os.stat(lockfile).st_mtime < time.time() - interval - 5
        ):
            stop_evt.set()  # parent died; plain shutdown, no restart
            return
        for path, t0 in files.items():
            if not os.path.exists(path) or os.stat(path).st_mtime > t0:
                print(f"change detected: {path}; pending reload...")
                reload_flag.append(True)
                stop_evt.set()
                return


def cmd_start(args) -> int:
    import signal
    import threading

    from .plans.admin import AdminServer
    from .plans.ws_admin import WsAdminServer
    from .session import get_spark

    if args.reload and not os.environ.get("PYPEMAN_RELOAD_CHILD"):
        # reload runs in the foreground (reference commands.py:279-281:
        # reload wins over daemon)
        return _reload_parent_loop(getattr(args, "_raw_argv", ["start", "--reload"]))

    pidfile = _pidfile(args.project_dir)
    if args.daemon and not args.reload:
        state = _daemonize(
            pidfile,
            os.path.join(os.path.abspath(args.project_dir), "pypeman.log"),
        )
        if state is None:
            return 1
        if state is False:  # parent: reap the intermediate, report, leave
            os.wait()
            for _ in range(100):
                pid = _read_pid(pidfile)
                if pid is not None and _pid_alive(pid):
                    print(f"started as daemon (pid {pid})")
                    return 0
                time.sleep(0.1)
            print("daemon did not come up; see pypeman.log", file=sys.stderr)
            return 1

    stop_evt = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_a: stop_evt.set())
    reload_flag: list[bool] = []

    settings = _load_settings(args.project_dir)
    project = load_project(args.project_dir)
    cpus = getattr(settings, "SPARK_CPUS", None) or int(
        os.environ.get("SPARK_GRAFT_CPUS", "4")
    )
    spark = get_spark("pypeman-spark", cpus=cpus)
    registry = project.build_project(spark)

    # settings.PLUGINS — dotted-path sidecar components run through the
    # reference lifecycle (plugin_mgr.py): ready after graph build,
    # start before channels, stop/destroy on shutdown
    from .plugins import PluginManager

    mgr = PluginManager(getattr(settings, "PLUGINS", []))
    mgr.import_plugins()
    mgr.init_plugins(registry)
    mgr.ready_plugins()
    mgr.start_plugins()

    servers = []
    if args.remote_admin:
        http_cfg = getattr(
            settings, "REMOTE_ADMIN_HTTP_CONFIG",
            {"host": "127.0.0.1", "port": 8090},
        )
        ws_cfg = getattr(
            settings, "REMOTE_ADMIN_WEBSOCKET_CONFIG",
            {"host": "127.0.0.1", "port": 8091},
        )
        rest = AdminServer(registry, host=http_cfg["host"], port=http_cfg["port"])
        rest.start()
        ws = WsAdminServer(registry, host=ws_cfg["host"], port=ws_cfg["port"])
        ws.start()
        servers = [rest, ws]
        print(f"admin: http://{http_cfg['host']}:{rest.port} "
              f"ws://{ws_cfg['host']}:{ws.port}")

    started = []
    for name in registry.names():
        if registry.get(name).source is not None:
            registry.start_channel(name)
            started.append(name)
            print(f"channel {name}: started")
    if not started:
        print("no streaming channels registered; admin-only mode")

    if args.reload:
        threading.Thread(
            target=_watch_loaded_files, args=(stop_evt, reload_flag),
            daemon=True,
        ).start()

    try:
        while not stop_evt.is_set():
            time.sleep(0.5)
        print("\nstopping (shutdown requested)...")
    except KeyboardInterrupt:
        print("\nstopping...")
    finally:
        for name in started:
            registry.stop_channel(name)
        for srv in servers:
            srv.stop()
        mgr.stop_plugins()
        mgr.destroy_plugins()
    return RELOAD_EXIT if reload_flag else 0


def cmd_stop(args) -> int:
    """Stop a running daemon via its pidfile (reference
    ``commands.py:290-294`` stop verb → DaemonLite.stop: SIGTERM)."""
    import signal

    pidfile = _pidfile(args.project_dir)
    pid = _read_pid(pidfile)
    if pid is None:
        print("not running (no pidfile)", file=sys.stderr)
        return 1
    if not _pid_alive(pid):
        os.remove(pidfile)
        print(f"stale pidfile removed (pid {pid} not running)",
              file=sys.stderr)
        return 1
    os.kill(pid, signal.SIGTERM)
    for _ in range(300):  # up to 30 s for Spark teardown
        if not _pid_alive(pid):
            break
        time.sleep(0.1)
    else:
        os.kill(pid, signal.SIGKILL)
        print(f"killed unresponsive daemon (pid {pid})", file=sys.stderr)
        # SIGKILL delivery is asynchronous: wait until the pid is
        # actually gone so "stopped" is never printed while the
        # process (or its zombie, pre-reap) is still kill(pid, 0)-able
        for _ in range(100):
            if not _pid_alive(pid):
                break
            time.sleep(0.1)
        else:
            # un-reaped zombie or D-state: say so instead of silently
            # claiming the pid is gone
            print(
                f"warning: pid {pid} still signalable 10s after "
                "SIGKILL (zombie or uninterruptible state)",
                file=sys.stderr,
            )
    if os.path.exists(pidfile):
        os.remove(pidfile)
    print(f"stopped (pid {pid})")
    return 0


def cmd_graph(args) -> int:
    from .session import get_spark

    project = load_project(args.project_dir)
    spark = get_spark("pypeman-spark-graph", cpus=2)
    registry = project.build_project(spark)
    for line in graph_lines(registry, dot=args.dot):
        print(line)
    return 0


def cmd_startproject(args) -> int:
    from .project_template import new_project

    written = new_project(args.dirname)
    for path in written:
        print(f"created {path}")
    return 0


def cmd_shell(args) -> int:
    from .plans.admin_client import AdminShell, client_for

    settings = _load_settings(args.project_dir)
    url = args.url
    if url is None:
        cfg = getattr(
            settings, "REMOTE_ADMIN_WEBSOCKET_CONFIG",
            {"host": "127.0.0.1", "port": 8091},
        )
        url = f"ws://{cfg['host']}:{cfg['port']}"
    try:
        AdminShell(client_for(url)).cmdloop()
    except KeyboardInterrupt:
        print("\nQuitting...")
    return 0


def cmd_pyshell(args) -> int:
    """Local Python REPL with a connected admin ``client`` in scope
    (reference ``commands.py:329-340``: RemoteAdminClient + IPython
    embed). IPython is optional; stdlib ``code.interact`` is the
    fallback. The client is lazy — constructing it needs no live
    server, each call opens its own connection."""
    from .plans.admin_client import client_for

    settings = _load_settings(args.project_dir)
    url = args.url
    if url is None:
        cfg = getattr(
            settings, "REMOTE_ADMIN_WEBSOCKET_CONFIG",
            {"host": "127.0.0.1", "port": 8091},
        )
        url = f"ws://{cfg['host']}:{cfg['port']}"
    client = client_for(url)
    banner = (
        f"pypeman-spark pyshell — `client` targets {url}\n"
        "try: client.channels(), client.list_msgs('<chan>'), "
        "client.push('<chan>', '{...}')"
    )
    try:
        from IPython import embed

        embed(banner1=banner, user_ns={"client": client})
    except ImportError:
        import code

        try:
            code.interact(banner=banner, local={"client": client}, exitmsg="")
        except EOFError:
            pass
    return 0


def cmd_debug(args) -> int:
    """Development-mode start (reference ``commands.py:363-367`` reserves
    the ``debug`` verb as a dev hook): DEBUG logging on the driver — the
    Spark-era analogue of the asyncio debug flag — then the normal
    foreground start."""
    import logging

    logging.basicConfig(
        level=logging.DEBUG,
        format="%(asctime)s %(levelname)s %(name)s %(message)s",
        force=True,
    )
    logging.getLogger("pypeman_spark").setLevel(logging.DEBUG)
    print("debug mode: DEBUG logging enabled")
    return cmd_start(args)


def cmd_printsettings(args) -> int:
    settings = _load_settings(args.project_dir)
    if settings is None:
        print("no settings.py found", file=sys.stderr)
        return 1
    for name in sorted(dir(settings)):
        if "A" <= name[0] <= "Z":
            print(name, "=", repr(getattr(settings, name)))
    return 0


def cmd_tools(args) -> int:
    """``pypeman tools view_store|send_from_store`` parity (reference
    ``tool_commands.py:11-14``, ``tools/view_store.py``,
    ``tools/send_from_store.py``)."""
    if args.tool == "send_from_store" and not args.dest:
        print("send_from_store requires --dest URL", file=sys.stderr)
        return 1
    if args.tool in ("table_history", "table_stats", "table_rows",
                     "table_restore", "table_clone",
                     "table_vacuum", "table_clones", "table_widen"):
        # lakehouse-store operability (the TxTable analog of
        # view_store): history, log-derived stats + constraints, and a
        # bounded time-travel row preview — all driver-side log reads
        import json as _json

        from .session import get_spark
        from .store.txtable import (
            LogTruncatedError as _LogTruncatedError,
            TxTable,
            VacuumedVersionError,
        )

        tx = TxTable(get_spark("tools"), args.store_path)
        if args.tool == "table_history":
            for info in tx.history():
                print(_json.dumps(info))
            return 0
        if args.tool == "table_stats":
            print(_json.dumps({
                "stats": tx.stats(),
                "key_cols": tx.key_cols,
                "n_buckets": tx.n_buckets,
                "logstore": tx.logstore.kind,
                "constraints": tx.constraints(),
            }))
            return 0
        if args.tool == "table_widen":
            # lossless type promotion, schema-action only (no data
            # rewritten); the lattice errors are operator-actionable
            if not args.column or not args.to:
                print("table_widen requires --column NAME --to TYPE",
                      file=sys.stderr)
                return 1
            try:
                v = tx.widen_column(args.column, args.to)
            except ValueError as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 1
            print(_json.dumps({
                "widened": args.column, "to": args.to, "committed": v,
            }))
            return 0
        if args.tool == "table_clones":
            # active shallow-clone markers at this SOURCE: what is
            # pinning vacuum/truncate_log right now
            print(_json.dumps(tx.clones()))
            return 0
        if args.tool == "table_vacuum":
            # --dry-run sizes the blast radius first; clone-borrowed
            # files are excluded (and warned about) either way
            removed = tx.vacuum(
                grace_s=args.grace, dry_run=args.dry_run
            )
            print(_json.dumps({
                "dry_run": bool(args.dry_run),
                "files": sorted(removed),
                "active_clones": len(tx.clones()),
            }))
            return 0
        if args.tool == "table_clone":
            # CREATE TABLE ... CLONE: --dest is the new table's root;
            # shallow (zero-copy) unless --deep
            if not args.dest:
                print("table_clone requires --dest PATH",
                      file=sys.stderr)
                return 1
            try:
                c = tx.clone(
                    args.dest, version=args.version,
                    timestamp=args.timestamp,
                    shallow=not args.deep,
                )
            except (VacuumedVersionError, _LogTruncatedError,
                    ValueError) as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 1
            print(_json.dumps({
                "cloned_to": args.dest,
                "shallow": not args.deep,
                "source_version": c._commit_info(1)["source_version"],
                "rows": c.count(),
            }))
            return 0
        if args.tool == "table_restore":
            # RESTORE TO VERSION/TIMESTAMP AS OF: metadata-only
            # rollback; the errors (vacuumed files, truncated log,
            # future version/timestamp) are operator-actionable, so
            # surface them verbatim
            if args.version is None and args.timestamp is None:
                print("table_restore requires --version N or "
                      "--timestamp TS", file=sys.stderr)
                return 1
            from .store.txtable import (
                CommitConflict, LogTruncatedError,
            )

            try:
                target = (
                    args.version if args.version is not None
                    else tx.version_at(args.timestamp)
                )
                v = tx.restore(version=target)
            except (VacuumedVersionError, LogTruncatedError,
                    CommitConflict, ValueError) as exc:
                print(f"error: {exc}", file=sys.stderr)
                return 1
            print(_json.dumps({
                "restored_to": target, "committed": v,
                "rows": tx.count(),
            }))
            return 0
        try:
            df = tx.snapshot(
                version=args.version, timestamp=args.timestamp,
            ).limit(args.count)
            for r in df.collect():
                print(_json.dumps(r.asDict(), default=str))
        except (VacuumedVersionError, _LogTruncatedError,
                ValueError) as exc:
            # vacuumed pin / truncated-log timestamp / out-of-range
            # timestamp: all operator-actionable
            print(f"error: {exc}", file=sys.stderr)
            return 1
        return 0
    if args.tool == "retention":
        if args.keep_days is None:
            print("retention requires --keep-days N", file=sys.stderr)
            return 1
        from .session import get_spark
        from .store.msgstore import MessageStore

        store = MessageStore(
            get_spark("tools"), args.store_path, channel=args.channel
        )
        dropped = store.apply_retention(keep_days=args.keep_days)
        for name in dropped:
            print(f"dropped {name}")
        print(f"expired {len(dropped)} partition(s)")
        return 0
    # view_store / send_from_store: the package's own store tools over
    # the store rooted at store_path (payload filters: view_store.Filter)
    from .session import get_spark
    from .store.msgstore import MessageStore
    from .tools.send_from_store import send_messages
    from .tools.view_store import Filter, filtered_messages

    spark = get_spark("pypeman-tools", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "4")
    ))
    store = MessageStore(spark, args.store_path, channel=args.channel)
    df = filtered_messages(
        store, [Filter(f) for f in args.filter or []], count=args.count
    )
    if args.tool == "view_store":
        for r in df.select("id", "payload").collect():
            print(r["id"], r["payload"])
        return 0
    print(f"sent {send_messages(df, args.dest)} messages")
    return 0


def cmd_test(args) -> int:
    import unittest

    sys.path.insert(0, os.path.abspath(args.project_dir))
    suite = unittest.defaultTestLoader.loadTestsFromName(args.module)
    runner = unittest.TextTestRunner(verbosity=2)
    return 0 if runner.run(suite).wasSuccessful() else 1


def cmd_pytest(args) -> int:
    """Forward everything after ``pytest`` to pytest with the project
    on sys.path (reference ``commands.py:399-403``) — the dev loop's
    `pypeman pytest -k foo -x` passthrough, complementing the
    unittest-style ``test`` verb."""
    try:
        import pytest
    except ImportError:
        print("pytest is not installed", file=sys.stderr)
        return 2
    sys.path.insert(0, os.path.abspath(args.project_dir))
    return int(pytest.main(list(args.pytest_args)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="pypeman-spark",
        description="Pypeman-spark: a PySpark-native ESB/ETL",
    )
    ap.add_argument("--project-dir", default=".", help="project directory")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("start", help="run the project's channels")
    p.add_argument("--remote-admin", action="store_true",
                   help="serve the REST + websocket admin endpoints")
    p.add_argument("--daemon", action="store_true",
                   help="detach and run in the background (pidfile: "
                        "<project-dir>/pypeman.pid, log: pypeman.log)")
    p.add_argument("--reload", action="store_true",
                   help="dev auto-reload: restart on source change "
                        "(foreground; wins over --daemon)")

    sub.add_parser("stop", help="stop a running daemon (via its pidfile)")

    p = sub.add_parser("graph", help="show the channel graph")
    p.add_argument("--dot", action="store_true", help="graphviz output")

    p = sub.add_parser("startproject", help="scaffold a new project")
    p.add_argument("dirname")

    p = sub.add_parser("shell", help="interactive remote-admin shell")
    p.add_argument("--url", default=None, help="http:// or ws:// admin URL")

    p = sub.add_parser("pyshell", help="local Python REPL with an admin client")
    p.add_argument("--url", default=None, help="http:// or ws:// admin URL")

    p = sub.add_parser("debug", help="start in the foreground with DEBUG logging")
    p.add_argument("--remote-admin", action="store_true",
                   help="serve the REST + websocket admin endpoints")
    p.set_defaults(daemon=False, reload=False)

    sub.add_parser("printsettings", help="print the project settings")

    p = sub.add_parser("tools", help="store utilities (view / re-send)")
    p.add_argument(
        "tool", choices=[
            "view_store", "send_from_store", "retention",
            "table_history", "table_stats", "table_rows",
            "table_restore", "table_clone",
            "table_vacuum", "table_clones", "table_widen",
        ]
    )
    p.add_argument("store_path", help="MessageStore / TxTable base path")
    p.add_argument("--channel", default="default")
    p.add_argument("--filter", "-f", action="append",
                   help="payload field filter, e.g. -f k=9 (repeatable)")
    p.add_argument("--count", type=int, default=100,
                   help="max messages (default %(default)s)")
    p.add_argument("--dest", default=None,
                   help="destination URL for send_from_store; "
                        "destination path for table_clone")
    p.add_argument("--deep", action="store_true",
                   help="table_clone: copy data files instead of "
                        "borrowing them (deep clone)")
    p.add_argument("--keep-days", type=int, default=None,
                   help="retention: drop date partitions older than N days")
    p.add_argument("--version", type=int, default=None,
                   help="table_rows: time-travel snapshot version; "
                        "table_restore: the version to roll back to")
    p.add_argument("--timestamp", default=None,
                   help="table_rows/table_restore: TIMESTAMP AS OF "
                        "(ISO-8601 or epoch seconds) instead of "
                        "--version")
    p.add_argument("--dry-run", action="store_true",
                   help="table_vacuum: report what WOULD be deleted "
                        "without unlinking anything")
    p.add_argument("--column", default=None,
                   help="table_widen: the column to widen")
    p.add_argument("--to", default=None, dest="to",
                   help="table_widen: target type (long, double, ...)")
    p.add_argument("--grace", type=float, default=3600.0,
                   help="table_vacuum: only delete files whose mtime "
                        "is at least this many seconds old "
                        "(default %(default)s)")

    p = sub.add_parser("test", help="run the project's tests")
    p.add_argument("--module", "-m", default="tests")

    p = sub.add_parser(
        "pytest", help="forward remaining args to pytest "
        "(project dir on sys.path)"
    )
    p.add_argument("pytest_args", nargs=argparse.REMAINDER,
                   help="arguments passed through to pytest verbatim")

    raw = list(argv) if argv is not None else sys.argv[1:]
    # The pytest verb must accept flag-first args (`pytest -k foo -x`):
    # argparse REMAINDER only engages at the first NON-flag token, so a
    # leading `-k` dies with "unrecognized arguments". Split manually at
    # the verb (the reference uses click's ignore_unknown_options for
    # the same reason) and strip one literal `--` separator so it is
    # not forwarded into pytest's own arg parsing.
    pytest_idx = next(
        (
            i for i, tok in enumerate(raw)
            if tok == "pytest" and (i == 0 or raw[i - 1] != "--project-dir")
        ),
        None,
    )
    if pytest_idx is not None:
        rest = raw[pytest_idx + 1:]
        if rest and rest[0] == "--":
            rest = rest[1:]
        args = ap.parse_args(raw[: pytest_idx + 1])
        args.pytest_args = rest
    else:
        args = ap.parse_args(raw)
    args._raw_argv = raw
    return {
        "start": cmd_start,
        "stop": cmd_stop,
        "graph": cmd_graph,
        "startproject": cmd_startproject,
        "shell": cmd_shell,
        "pyshell": cmd_pyshell,
        "debug": cmd_debug,
        "printsettings": cmd_printsettings,
        "tools": cmd_tools,
        "test": cmd_test,
        "pytest": cmd_pytest,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
