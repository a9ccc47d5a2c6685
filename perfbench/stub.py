"""Loopback stand-in for the OpenSky REST endpoint.

Serves from one thread. Request k (1-based) gets body (k-1) mod B with
envelope time `base_time + 60*k`, so every tick is a distinct snapshot.
`served` records (snapshot_time, body_index) per request, in order.
"""
import http.server
import threading

from payload import envelope


class Stub:
    def __init__(self, bodies, base_time=1700000000):
        self.bodies = bodies
        self.base_time = base_time
        self.served = []
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                k = len(stub.served) + 1
                t = stub.base_time + 60 * k
                idx = (k - 1) % len(stub.bodies)
                body = envelope(t, stub.bodies[idx])
                stub.served.append((t, idx))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever)

    @property
    def url(self):
        return "http://127.0.0.1:%d/api/states/all" % self.server.server_address[1]

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()
