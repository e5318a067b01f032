"""Pure-Python Leiden-style community detection (driver-side).

The engine's one Leiden implementation, closing the reference's
algorithmic-parity gap with no native dependency (reference
utils/neo4j_helpers.py:237-268: leidenalg
``RBConfigurationVertexPartition`` at resolutions 2.0/0.5/0.1,
seed 42). Same quality objective — the Reichardt–Bornholdt
configuration-null model

    Q(gamma) = sum_c [ e_c  -  gamma * K_c^2 / (2m) ]

(e_c = intra-community edge weight, K_c = total strength of the
community, 2m = total strength of the graph) — optimized by the
Louvain move-and-aggregate scheme plus the property Leiden adds over
plain Louvain and the one our invariants pin: every output community
is CONNECTED. Here that guarantee is enforced by a final
split-into-components pass, which for the RB objective is always a
strict improvement on a disconnected community (no cross-component
edges means e_c is unchanged while K_a^2 + K_b^2 < (K_a+K_b)^2), so
the pass never trades quality for the guarantee.

Driver-side by design, like the reference's leidenalg call: valid
when |V|+|E| fits on one machine (the reference's scale, ~99k nodes /
~124k edges, trivially does). The DISTRIBUTED default for
100 TB graphs remains ``algorithms.detect_communities`` (multilevel
label propagation, same per-vertex output contract).

Determinism: node visit order comes from ``random.Random(seed)``;
every other choice (best-community argmax, tie-breaks, component
numbering, final label canonicalization) is resolved by explicit
ordering, so a (graph, gamma, seed) triple always yields the same
partition — pinned in tests.
"""

from __future__ import annotations

import random
from collections import defaultdict, deque

__all__ = ["leiden_membership", "rb_quality"]


def _build_adj(
    n: int, edges: list[tuple[int, int, float]]
) -> list[dict[int, float]]:
    """Undirected weighted adjacency; parallel edges sum, self-loops
    dropped (a self-loop moves with its node, so it never changes a
    move gain and cannot affect the argmax partition)."""
    adj: list[dict[int, float]] = [{} for _ in range(n)]
    for u, v, w in edges:
        if u == v:
            continue
        adj[u][v] = adj[u].get(v, 0.0) + w
        adj[v][u] = adj[v].get(u, 0.0) + w
    return adj


def rb_quality(
    n: int,
    edges: list[tuple[int, int, float]],
    membership: list[int],
    gamma: float,
) -> float:
    """RB-configuration quality of a partition (unnormalized, the form
    leidenalg maximizes): sum_c e_c - gamma * K_c^2 / (2m)."""
    adj = _build_adj(n, edges)
    k = [sum(nb.values()) for nb in adj]
    two_m = sum(k) or 1.0
    e_c: dict[int, float] = defaultdict(float)
    K_c: dict[int, float] = defaultdict(float)
    for i in range(n):
        K_c[membership[i]] += k[i]
        for j, w in adj[i].items():
            if j > i and membership[i] == membership[j]:
                e_c[membership[i]] += w
    return sum(e_c.values()) - gamma * sum(K * K for K in K_c.values()) / two_m


def _local_move(
    adj: list[dict[int, float]],
    self_w: list[float],
    k: list[float],
    two_m: float,
    gamma: float,
    rng: random.Random,
) -> list[int]:
    """Queue-based fast local move from singletons: each node joins the
    neighbor community with the highest RB gain (strict improvement,
    ties to the lowest community id — monotone, so no oscillation);
    moving a node re-enqueues its out-of-community neighbors."""
    n = len(adj)
    membership = list(range(n))
    comm_K: dict[int, float] = defaultdict(float)
    for i in range(n):
        comm_K[i] = k[i]
    order = list(range(n))
    rng.shuffle(order)
    queue = deque(order)
    in_queue = [True] * n
    while queue:
        i = queue.popleft()
        in_queue[i] = False
        a = membership[i]
        wc: dict[int, float] = defaultdict(float)
        for j, w in adj[i].items():
            wc[membership[j]] += w
        comm_K[a] -= k[i]
        best_c = a
        best_gain = wc.get(a, 0.0) - gamma * k[i] * comm_K[a] / two_m
        for c in sorted(wc):
            if c == a:
                continue
            gain = wc[c] - gamma * k[i] * comm_K[c] / two_m
            if gain > best_gain + 1e-12 or (
                abs(gain - best_gain) <= 1e-12 and c < best_c
            ):
                best_gain, best_c = gain, c
        membership[i] = best_c
        comm_K[best_c] += k[i]
        if best_c != a:
            for j in adj[i]:
                if membership[j] != best_c and not in_queue[j]:
                    queue.append(j)
                    in_queue[j] = True
    return membership


def _aggregate(
    adj: list[dict[int, float]],
    self_w: list[float],
    membership: list[int],
) -> tuple[list[dict[int, float]], list[float], list[int]]:
    """Contract each community to one node; intra-community weight
    becomes self-loop weight (it still counts toward strength)."""
    comms = sorted(set(membership))
    remap = {c: i for i, c in enumerate(comms)}
    m2 = [remap[c] for c in membership]
    n2 = len(comms)
    adj2: list[dict[int, float]] = [{} for _ in range(n2)]
    self2 = [0.0] * n2
    for i, neigh in enumerate(adj):
        ci = m2[i]
        self2[ci] += self_w[i]
        for j, w in neigh.items():
            if j <= i:
                continue
            cj = m2[j]
            if ci == cj:
                self2[ci] += w
            else:
                adj2[ci][cj] = adj2[ci].get(cj, 0.0) + w
                adj2[cj][ci] = adj2[cj].get(ci, 0.0) + w
    return adj2, self2, m2


def _split_components(
    n: int,
    edges: list[tuple[int, int, float]],
    membership: list[int],
) -> list[int]:
    """Leiden's connectivity guarantee, enforced directly: BFS the
    intra-community subgraph and give each connected component its own
    community (always a strict RB improvement on a disconnected one)."""
    intra: list[list[int]] = [[] for _ in range(n)]
    for u, v, _ in edges:
        if u != v and membership[u] == membership[v]:
            intra[u].append(v)
            intra[v].append(u)
    out = [-1] * n
    next_id = 0
    for start in range(n):  # ascending start node → deterministic ids
        if out[start] >= 0:
            continue
        q = deque([start])
        out[start] = next_id
        while q:
            u = q.popleft()
            for v in intra[u]:
                if out[v] < 0:
                    out[v] = next_id
                    q.append(v)
        next_id += 1
    return out


def leiden_membership(
    n: int,
    edges: list[tuple[int, int, float]],
    gamma: float = 1.0,
    seed: int = 42,
) -> list[int]:
    """Community membership (length-n list of 0-based labels) for an
    undirected weighted graph, maximizing RB quality at resolution
    ``gamma``. Labels are canonical: communities are numbered by their
    smallest member node, in ascending order."""
    adj = _build_adj(n, edges)
    self_w = [0.0] * n
    k = [sum(nb.values()) for nb in adj]
    two_m = sum(k) or 1.0
    rng = random.Random(seed)
    mapping = list(range(n))  # original node -> current aggregate node
    while True:
        memb = _local_move(adj, self_w, k, two_m, gamma, rng)
        n_comms = len(set(memb))
        if n_comms == len(adj):
            break  # no node moved: converged at this level
        adj, self_w, memb_map = _aggregate(adj, self_w, memb)
        k = [sum(nb.values()) + 2.0 * self_w[i] for i, nb in enumerate(adj)]
        mapping = [memb_map[memb[mapping[v]]] for v in range(n)]
        if len(adj) == 1:
            break
    final = _split_components(n, edges, mapping)
    # canonicalize: renumber by smallest original member node
    first_seen: dict[int, int] = {}
    for v in range(n):
        if final[v] not in first_seen:
            first_seen[final[v]] = len(first_seen)
    return [first_seen[c] for c in final]
