"""gRPC serving layer (reference V3: src/api/grpc.rs:20-98 serving
proto/graph_loom.proto).

Contract parity with the reference service:

- ``graph_loom.GraphQuery/Execute`` unary RPC;
- ``x-api-key`` metadata auth → ``UNAUTHENTICATED`` ("invalid or missing
  api key") when wrong/absent (grpc.rs:26-32);
- 30 s execution budget → ``DEADLINE_EXCEEDED`` ("query timeout");
- execution failures are **in-band**: a normal ``QueryResponse`` with
  the ``error`` field set and empty rows (grpc.rs:88-94), NOT a gRPC
  status.

The wire messages are (de)serialized by the hand-rolled proto3 codec in
:mod:`graph_loom_spark.grpc_codec`, plugged into grpcio's *generic*
method handlers — no protoc/grpcio-tools step, and the server is
wire-compatible with clients built from the reference's .proto
(examples/python_client/client.py works unchanged against it).

grpcio itself is optional at import time (the test container does not
ship it): ``serve_grpc``/``GraphQueryClient`` raise a clear error if it
is missing, and everything that doesn't need a real channel (the codec,
the outcome mapping) stays importable and tested.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutTimeout

from graph_loom_spark import grpc_codec as codec
from graph_loom_spark.result import QueryOutcome
from graph_loom_spark.serve import QueryServer

try:  # optional dependency — gate, don't require (container has no grpcio)
    import grpc

    HAVE_GRPC = True
except ImportError:  # pragma: no cover - exercised only without grpcio
    grpc = None
    HAVE_GRPC = False

SERVICE_NAME = "graph_loom.GraphQuery"
EXECUTE_METHOD = f"/{SERVICE_NAME}/Execute"


def outcome_to_response(outcome: QueryOutcome) -> dict:
    """Map a QueryOutcome onto the proto QueryResponse dict shape
    (grpc.rs:55-86: oneof item {node, relationship, info})."""
    rows = []
    for r in outcome.rows:
        if r.is_node:
            rows.append(
                {"node": {"id": r.id or "", "label": r.label or "", "metadata": r.properties or {}}}
            )
        elif r.is_rel:
            rows.append(
                {
                    "relationship": {
                        "id": r.id or "",
                        "from_id": r.src or "",
                        "to_id": r.dst or "",
                        "label": r.label or "",
                        "metadata": r.properties or {},
                    }
                }
            )
        else:
            rows.append({"info": r.info or ""})
    return {
        "rows": rows,
        "affected_nodes": outcome.affected_nodes,
        "affected_relationships": outcome.affected_relationships,
        "mutated": outcome.mutated,
        "error": "",
    }


def error_response(message: str) -> dict:
    """In-band execution error (grpc.rs:88-94)."""
    return {
        "rows": [],
        "affected_nodes": 0,
        "affected_relationships": 0,
        "mutated": False,
        "error": message,
    }


def _require_grpc() -> None:
    if not HAVE_GRPC:
        raise ImportError(
            "grpcio is not installed; the gRPC serving layer (V3) needs it. "
            "pip install grpcio — the wire contract is proto/graph_loom.proto."
        )


def serve_grpc(
    broker: QueryServer,
    host: str = "127.0.0.1",
    port: int = 50051,
    max_workers: int = 2,
):
    """Start the GraphQuery gRPC service on ``host:port``; returns the
    started ``grpc.Server`` (call ``.stop(grace)`` to shut down).

    ``broker`` is the same QueryServer used by the HTTP/WS layer, so all
    three APIs share its reader–writer lock: mutations from any transport
    are serialized (V4, where every transport funnels into one mpsc
    channel), while read-only queries run side by side on the broker's
    pool, and a timed-out read is cancelled. The reference runs 2 tokio
    worker threads (grpc.rs:127-130); ``max_workers=2`` mirrors that, so
    at most two gRPC calls wait on the broker at once."""
    _require_grpc()

    def execute(request: dict, context) -> dict:
        if broker.api_key is not None:
            md = dict(context.invocation_metadata())
            if md.get("x-api-key") != broker.api_key:
                context.abort(
                    grpc.StatusCode.UNAUTHENTICATED, "invalid or missing api key"
                )
        query = request.get("query", "")
        if not query.strip():
            return error_response("missing query")
        try:
            outcome = broker.run(
                query, request.get("params") or {}, bool(request.get("log")), broker.timeout_s
            )
        except FutTimeout:
            context.abort(grpc.StatusCode.DEADLINE_EXCEEDED, "query timeout")
        except Exception as e:  # noqa: BLE001 — in-band error field
            return error_response(str(e))
        return outcome_to_response(outcome)

    handler = grpc.unary_unary_rpc_method_handler(
        execute,
        request_deserializer=codec.decode_query_request,
        response_serializer=codec.encode_query_response,
    )
    generic = grpc.method_handlers_generic_handler(SERVICE_NAME, {"Execute": handler})
    server = grpc.server(ThreadPoolExecutor(max_workers=max_workers))
    server.add_generic_rpc_handlers((generic,))
    bound = server.add_insecure_port(f"{host}:{port}")
    server.bound_port = bound  # actual port (use port=0 for ephemeral)
    server.start()
    return server


class GraphQueryClient:
    """Thin client over the same hand-rolled codec (V6 parity — the
    reference's examples/python_client/client.py shape, minus protoc)."""

    def __init__(self, target: str = "localhost:50051", api_key: str | None = None):
        _require_grpc()
        self.api_key = api_key
        self._channel = grpc.insecure_channel(target)
        self._execute = self._channel.unary_unary(
            EXECUTE_METHOD,
            request_serializer=lambda r: codec.encode_query_request(
                r["query"], r.get("params"), r.get("log", False)
            ),
            response_deserializer=codec.decode_query_response,
        )

    def execute(
        self,
        query: str,
        params: dict[str, str] | None = None,
        log: bool = True,
        timeout: float = 30.0,
    ) -> dict:
        metadata = [("x-api-key", self.api_key)] if self.api_key else None
        return self._execute(
            {"query": query, "params": params or {}, "log": log},
            timeout=timeout,
            metadata=metadata,
        )

    def close(self) -> None:
        self._channel.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
