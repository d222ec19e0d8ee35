"""Lookup dimension tables for enrichment (reference §2.4 static dicts).

Each dim is tiny (≤ a few hundred rows) and joined with an explicit
``broadcast()`` hint. Content mirrors the *semantic categories* of the
reference (avc_selinux/context.py:119-365, parse_avc.py:1455-1714) with our
own descriptive wording — descriptions are informational, not part of the
byte-exact invariant (that covers extracted fields only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# E1 — permission → description (avc_selinux/context.py:119-181)
PERM_DESCRIPTIONS = [
    ("read", "read file content"),
    ("write", "modify file content"),
    ("append", "append to file"),
    ("open", "open file"),
    ("getattr", "read file attributes"),
    ("setattr", "change file attributes"),
    ("create", "create new object"),
    ("unlink", "delete file"),
    ("rename", "rename file"),
    ("execute", "execute file"),
    ("execute_no_trans", "execute without domain transition"),
    ("entrypoint", "use file as domain entrypoint"),
    ("search", "search directory"),
    ("add_name", "add entry to directory"),
    ("remove_name", "remove entry from directory"),
    ("rmdir", "remove directory"),
    ("name_connect", "connect to network port"),
    ("name_bind", "bind to network port"),
    ("bind", "bind socket"),
    ("connect", "connect socket"),
    ("listen", "listen on socket"),
    ("accept", "accept connection"),
    ("send_msg", "send message"),
    ("recv_msg", "receive message"),
    ("signal", "send signal to process"),
    ("signull", "check process existence"),
    ("sigkill", "send SIGKILL"),
    ("sigstop", "send SIGSTOP"),
    ("ptrace", "trace process"),
    ("transition", "transition to new domain"),
    ("dac_override", "override discretionary access control"),
    ("dac_read_search", "override DAC for read/search"),
    ("net_admin", "configure networking"),
    ("sys_admin", "perform system administration"),
    ("setuid", "change user identity"),
    ("setgid", "change group identity"),
    ("noatsecure", "disable secure-mode environment sanitization"),
    ("rlimitinh", "inherit resource limits"),
    ("siginh", "inherit signal state"),
    ("relabelfrom", "change label from current type"),
    ("relabelto", "change label to new type"),
    ("mounton", "use as mount point"),
    ("map", "memory-map file"),
    ("lock", "lock file"),
    ("ioctl", "perform ioctl"),
    ("watch", "watch for changes"),
]

# E3 — object class → description (avc_selinux/context.py:184-205)
CLASS_DESCRIPTIONS = [
    ("file", "regular file"),
    ("dir", "directory"),
    ("lnk_file", "symbolic link"),
    ("chr_file", "character device"),
    ("blk_file", "block device"),
    ("sock_file", "unix socket file"),
    ("fifo_file", "named pipe"),
    ("tcp_socket", "TCP network socket"),
    ("udp_socket", "UDP network socket"),
    ("unix_stream_socket", "unix stream socket"),
    ("unix_dgram_socket", "unix datagram socket"),
    ("rawip_socket", "raw IP socket"),
    ("netlink_socket", "netlink socket"),
    ("process", "process"),
    ("capability", "kernel capability"),
    ("capability2", "extended kernel capability"),
    ("key", "kernel keyring"),
    ("dbus", "D-Bus service"),
    ("shm", "shared memory segment"),
    ("sem", "semaphore"),
    ("msgq", "message queue"),
    ("security", "SELinux security server"),
]

# E4 — selinux type → description (avc_selinux/context.py:83-107)
TYPE_DESCRIPTIONS = [
    ("httpd_t", "Apache/web-server process"),
    ("httpd_sys_content_t", "web content file"),
    ("default_t", "unconfigured-location file (default label)"),
    ("unlabeled_t", "object with no SELinux label"),
    ("unconfined_t", "unconfined process"),
    ("init_t", "init/systemd process"),
    ("sshd_t", "SSH daemon process"),
    ("mysqld_t", "MySQL/MariaDB process"),
    ("container_t", "container process"),
    ("container_file_t", "container file"),
    ("etc_t", "system configuration file"),
    ("var_log_t", "system log file"),
    ("tmp_t", "temporary file"),
    ("user_home_t", "user home-directory file"),
    ("setfiles_t", "filesystem relabeling tool"),
]

# E2 — (permission, file|directory) → context-aware description
# (avc_selinux/context.py:213-249)
PERM_CONTEXT_DESCRIPTIONS = [
    ("read", "file", "read file content"),
    ("read", "dir", "list directory contents"),
    ("write", "file", "modify file content"),
    ("write", "dir", "modify directory entries"),
    ("open", "file", "open file"),
    ("open", "dir", "open directory"),
    ("getattr", "file", "read file metadata"),
    ("getattr", "dir", "read directory metadata"),
    ("search", "dir", "traverse directory"),
    ("add_name", "dir", "create entry in directory"),
    ("remove_name", "dir", "delete entry from directory"),
    ("create", "file", "create new file"),
    ("create", "dir", "create new directory"),
    ("execute", "file", "execute program file"),
    ("unlink", "file", "delete file"),
    ("rmdir", "dir", "remove directory"),
]

# E5 — (permission, tclass) → contextual analysis sentence
# (avc_selinux/context.py:256-346); fallback composed downstream via
# format_string when no template matches.
CONTEXTUAL_ANALYSIS = [
    ("name_connect", "tcp_socket", "process attempted an outbound TCP connection to a labeled port"),
    ("name_bind", "tcp_socket", "process attempted to bind/listen on a labeled port"),
    ("name_bind", "udp_socket", "process attempted to bind a UDP socket on a labeled port"),
    ("read", "file", "process attempted to read a file with a different security label"),
    ("write", "file", "process attempted to write a file with a different security label"),
    ("append", "file", "process attempted to append to a labeled file"),
    ("execute", "file", "process attempted to execute a labeled program"),
    ("getattr", "file", "process attempted to stat a labeled file"),
    ("open", "file", "process attempted to open a labeled file"),
    ("search", "dir", "process attempted to traverse a labeled directory"),
    ("add_name", "dir", "process attempted to create an entry in a labeled directory"),
    ("read", "dir", "process attempted to list a labeled directory"),
    ("signal", "process", "process attempted to signal another security domain"),
    ("ptrace", "process", "process attempted to trace a process in another domain"),
    ("transition", "process", "process attempted a domain transition"),
    ("dac_override", "capability", "process attempted to bypass file-permission checks"),
    ("send_msg", "dbus", "process attempted to send a D-Bus message across domains"),
    ("relabelfrom", "file", "process attempted to change a file's current label"),
    ("relabelto", "file", "process attempted to assign a new label to a file"),
    ("noatsecure", "process", "domain transition without secure-mode environment scrubbing (dontaudit-class)"),
    ("rlimitinh", "process", "resource-limit inheritance across domain transition (dontaudit-class)"),
    ("siginh", "process", "signal-state inheritance across domain transition (dontaudit-class)"),
    ("mounton", "dir", "process attempted to use a labeled directory as a mount point"),
]

# E6 — port → service (avc_selinux/context.py:348-365)
PORT_DESCRIPTIONS = [
    ("22", "SSH"),
    ("25", "SMTP"),
    ("53", "DNS"),
    ("80", "HTTP"),
    ("110", "POP3"),
    ("143", "IMAP"),
    ("443", "HTTPS"),
    ("3306", "MySQL"),
    ("5432", "PostgreSQL"),
    ("6379", "Redis"),
    ("8080", "HTTP-alt"),
    ("9999", "custom/unregistered service"),
]

# E8 exact map — comm → process category (parse_avc.py:1469-1508)
SERVICE_MAPPINGS = [
    ("httpd", "web_server_apache"),
    ("nginx", "web_server_nginx"),
    ("lighttpd", "web_server_lighttpd"),
    ("caddy", "web_server_caddy"),
    ("mysqld", "database_mysql"),
    ("postgres", "database_postgresql"),
    ("mongod", "database_mongodb"),
    ("redis-server", "database_redis"),
    ("systemd", "init_systemd"),
    ("init", "init_sysv"),
    ("logrotate", "system_logrotate"),
    ("cron", "system_cron"),
    ("crond", "system_cron"),
    ("ntpdate", "system_ntp"),
    ("chronyd", "system_ntp"),
    ("aide", "security_aide"),
    ("sshd", "ssh_daemon"),
    ("ssh", "ssh_client"),
    ("unix_chkpwd", "ssh_auth"),
    ("docker", "container_docker"),
    ("podman", "container_podman"),
    ("runc", "container_runtime"),
    ("gnome-shell", "desktop_gnome"),
    ("plasma", "desktop_kde"),
    ("pulseaudio", "audio_pulse"),
    ("pipewire", "audio_pipewire"),
]

# E9 — (tclass_group, permission) → permission category (parse_avc.py:1546-1662)
# in the reference's if/elif order; join.permission_category_expr generates
# its when-cascade from these rows.
PERM_CATEGORY_ROWS: list[tuple[str, str, str]] = (
    [("fs", p, "file_access") for p in ["read", "write", "append", "getattr", "open"]]
    + [("fs", p, "file_create") for p in ["create", "add_name", "setattr"]]
    # NB "write" appears in both file_access and file_create in the reference;
    # the if/elif order means file_access wins — keep only the winning row.
    + [("fs", p, "file_execute") for p in ["execute", "execute_no_trans", "entrypoint"]]
    + [("fs", p, "file_manage") for p in ["unlink", "remove_name", "rename", "rmdir"]]
    + [("net", p, "net_bind") for p in ["name_bind", "bind", "listen"]]
    + [("net", p, "net_connect") for p in ["name_connect", "connect", "send_msg", "recv_msg"]]
    + [("process", p, "process_signal") for p in ["signal", "signull", "sigkill", "sigstop"]]
    + [("process", p, "process_trace") for p in ["ptrace", "getsched", "setsched"]]
    + [("process", p, "process_transition") for p in ["transition", "entrypoint", "execute"]]
    + [("dbus", p, "dbus_communication") for p in ["send_msg", "acquire_svc", "own"]]
    + [("key", p, "key_access") for p in ["read", "view", "search", "link"]]
    + [("key", p, "key_manage") for p in ["write", "create", "setattr", "chown"]]
    + [("capability", p, "capability_use") for p in ["use", "audit_access", "audit_control", "setuid", "setgid"]]
    + [("security", p, "security_control") for p in ["enforce", "load_policy", "compute_av", "compute_create", "check_context"]]
)

FILESYSTEM_CLASSES = [
    "file", "dir", "lnk_file", "chr_file", "blk_file", "sock_file", "fifo_file",
]
FS_OBJECT_CLASSES = FILESYSTEM_CLASSES + ["anon_inode"]
NETWORK_PERM_CLASSES = [
    "tcp_socket", "udp_socket", "unix_stream_socket", "unix_dgram_socket",
]
NETWORK_OBJECT_CLASSES = NETWORK_PERM_CLASSES + ["rawip_socket", "netlink_socket", "socket"]
IPC_CLASSES = ["sem", "msg", "msgq", "shm", "ipc"]
SYSTEM_CLASSES = ["process", "security", "system", "capability", "capability2"]
MLS_INDEPENDENT_CLASSES = ["capability", "capability2", "process", "system"]

# E11 — ordered path-pattern regex table (parse_avc.py:1717-1803).
# Checked in order: web → container → system (reference merges dicts in that
# order and Python dicts preserve insertion order).
PATH_PATTERNS: list[tuple[str, str]] = [
    (r"^/var/www(/.*)?$", "/var/www(/.*)?"),
    (r"^/srv/www(/.*)?$", "/srv/www(/.*)?"),
    (r"^/usr/share/nginx(/.*)?$", "/usr/share/nginx(/.*)?"),
    (r"^/etc/httpd(/.*)?$", "/etc/httpd(/.*)?"),
    (r"^/etc/nginx(/.*)?$", "/etc/nginx(/.*)?"),
    (r".*/containers/storage/overlay/[^/]+/.*", "/containers/storage/overlay/*/..."),
    (r"^/var/log(/.*)?$", "/var/log(/.*)?"),
    (r"^/var/local/log(/.*)?$", "/var/local/log(/.*)?"),
    (r"^/var/spool(/.*)?$", "/var/spool(/.*)?"),
    (r"^/var/run(/.*)?$", "/var/run(/.*)?"),
    (r"^/var/lib(/.*)?$", "/var/lib(/.*)?"),
    (r"^/etc(/.*)?$", "/etc(/.*)?"),
    (r"^/usr/bin(/.*)?$", "/usr/bin(/.*)?"),
    (r"^/usr/sbin(/.*)?$", "/usr/sbin(/.*)?"),
    (r"^/usr/lib(/.*)?$", "/usr/lib(/.*)?"),
    (r"^/home/[^/]+(/.*)?$", "/home/[^/]+(/.*)?"),
    (r"^/tmp(/.*)?$", "/tmp(/.*)?"),
    (r"^/var/tmp(/.*)?$", "/var/tmp(/.*)?"),
]


def build_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """Materialize all dim tables as small DataFrames (broadcast at join)."""
    return {
        "perm_desc": spark.createDataFrame(
            PERM_DESCRIPTIONS, "permission string, permission_description string"
        ),
        "class_desc": spark.createDataFrame(
            CLASS_DESCRIPTIONS, "tclass string, class_description string"
        ),
        "type_desc": spark.createDataFrame(
            TYPE_DESCRIPTIONS, "sel_type string, type_description string"
        ),
        "port_desc": spark.createDataFrame(
            PORT_DESCRIPTIONS, "dest_port string, port_description string"
        ),
        "perm_context_desc": spark.createDataFrame(
            PERM_CONTEXT_DESCRIPTIONS,
            "permission string, obj_kind string, perm_context_description string",
        ),
        "contextual": spark.createDataFrame(
            CONTEXTUAL_ANALYSIS,
            "permission string, tclass string, contextual_analysis string",
        ),
    }
