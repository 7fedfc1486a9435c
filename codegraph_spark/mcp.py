"""MCP stdio server — protocol parity with the reference's JSON-RPC loop.

The reference serves its graph over a line-delimited JSON-RPC 2.0 stdio
protocol (mcp-server/main.go:88-122 run loop; :111-122 dispatch of
initialize / tools/list / tools/call; :525-548 response/error framing;
tool definitions :139-216, tool-call responses as
``{"content": [{"type": "text", ...}], "isError"?}`` :246-523).

This module reproduces that surface verbatim over :class:`MCPService`:
``handle_request`` is a pure request→response function (unit-testable
without processes), ``serve`` is the stdin/stdout loop, wired to the
CLI as ``python -m codegraph_spark --graph DIR serve mcp``. In the
deployment model the driver keeps the graph DataFrames cached and each
tool call is a few Spark jobs (SURVEY §3.3; 2.0 per op on average in a
traced run of the ``code_serving`` benchmark workload, and 3 for
``codegraph_analyze_function``).
"""

from __future__ import annotations

import json
from typing import Any, TextIO

from codegraph_spark.services import MCPService

PROTOCOL_VERSION = "2024-11-05"
SERVER_INFO = {"name": "codegraph-spark-mcp-server", "version": "1.0.0"}

#: tool list with input schemas — mcp-server/main.go:139-216 shapes.
TOOL_DEFINITIONS: list[dict[str, Any]] = [
    {
        "name": "codegraph_search",
        "description": "Search for functions, methods, classes, and "
        "other code entities in the codebase",
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string"},
                "limit": {"type": "number", "default": 20},
                "types": {"type": "array", "items": {"type": "string"}},
            },
            "required": ["query"],
        },
    },
    {
        "name": "codegraph_get_source",
        "description": "Retrieve the exact source code for a specific "
        "function or method",
        "inputSchema": {
            "type": "object",
            "properties": {"function_name": {"type": "string"}},
            "required": ["function_name"],
        },
    },
    {
        "name": "codegraph_find_references",
        "description": "Find all references (usages) of a specific "
        "symbol in the codebase",
        "inputSchema": {
            "type": "object",
            "properties": {"symbol": {"type": "string"}},
            "required": ["symbol"],
        },
    },
    {
        "name": "codegraph_analyze_function",
        "description": "Get detailed analysis of a function including "
        "callers, callees, and metadata",
        "inputSchema": {
            "type": "object",
            "properties": {"function_name": {"type": "string"}},
            "required": ["function_name"],
        },
    },
]


def _text(payload: Any, is_error: bool = False) -> dict:
    """Tool-call response framing (main.go ToolCallResponse): content
    list of text blocks; the reference renders markdown, we render the
    service's JSON document — same envelope, machine-readable body."""
    out: dict[str, Any] = {
        "content": [{"type": "text", "text": json.dumps(payload, default=str)}]
    }
    if is_error:
        out["isError"] = True
    return out


def _call_tool(svc: MCPService, name: str, args: dict) -> dict | None:
    """Returns the tool response, or None for an unknown tool (which is
    a protocol-level -32601, main.go:239-241)."""
    try:
        if name == "codegraph_search":
            if "query" not in args:
                return _text("Error: query parameter is required", is_error=True)
            return _text(
                svc.call(
                    "search",
                    term=args["query"],
                    types=args.get("types"),
                    limit=int(args.get("limit", 20)),
                )
            )
        if name == "codegraph_get_source":
            if "function_name" not in args:
                return _text("Error: function_name parameter is required", is_error=True)
            return _text(svc.call("get_source", function_name=args["function_name"]))
        if name == "codegraph_find_references":
            if "symbol" not in args:
                return _text("Error: symbol parameter is required", is_error=True)
            return _text(svc.call("find_references", symbol=args["symbol"]))
        if name == "codegraph_analyze_function":
            if "function_name" not in args:
                return _text("Error: function_name parameter is required", is_error=True)
            return _text(svc.call("analyze_function", name=args["function_name"]))
        return None
    except Exception as e:  # tool errors are in-band (main.go:271-276)
        return _text(f"Tool error: {e}", is_error=True)


def _error(req_id: Any, code: int, message: str) -> dict:
    return {
        "jsonrpc": "2.0",
        "id": req_id,
        "error": {"code": code, "message": message},
    }


def _result(req_id: Any, result: Any) -> dict:
    return {"jsonrpc": "2.0", "id": req_id, "result": result}


def handle_request(svc: MCPService, request: dict) -> dict:
    """Dispatch one JSON-RPC request (main.go:111-122)."""
    req_id = request.get("id")
    method = request.get("method")
    if method == "initialize":
        return _result(
            req_id,
            {
                "protocolVersion": PROTOCOL_VERSION,
                "capabilities": {"tools": {}},
                "serverInfo": SERVER_INFO,
            },
        )
    if method == "tools/list":
        return _result(req_id, {"tools": TOOL_DEFINITIONS})
    if method == "tools/call":
        params = request.get("params") or {}
        if not isinstance(params, dict) or not isinstance(params.get("name"), str):
            return _error(req_id, -32602, "Invalid params")
        resp = _call_tool(svc, params["name"], params.get("arguments") or {})
        if resp is None:
            return _error(req_id, -32601, "Unknown tool")
        return _result(req_id, resp)
    return _error(req_id, -32601, "Method not found")


def serve(svc: MCPService, stdin: TextIO, stdout: TextIO) -> None:
    """Line-delimited stdio loop (main.go:88-109): one JSON request per
    line in, one JSON response per line out; blank lines skipped;
    unparseable lines answered with -32700."""
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            request = json.loads(line)
        except json.JSONDecodeError:
            print(json.dumps(_error(None, -32700, "Parse error")), file=stdout, flush=True)
            continue
        print(json.dumps(handle_request(svc, request), default=str), file=stdout, flush=True)
